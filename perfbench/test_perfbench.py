"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import tempfile
import unittest
from pathlib import Path

import gen
import stats


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(Path(a) / d, Path(b) / d) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def write(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(__import__("shutil").rmtree, d)
        gen.write(d, seed, n_ldap=20, n_companies=60, n_users=10)
        return d

    def test_same_seed_gives_identical_files(self):
        self.assertTrue(tree_equal(self.write(11), self.write(11)))

    def test_other_seed_gives_other_files(self):
        self.assertFalse(tree_equal(self.write(11), self.write(12)))

    def test_fixture_documents_are_included_verbatim(self):
        fx = gen.fixture_docs()
        self.assertEqual(sum(len(d) for d in fx.values()), 17)
        d = Path(self.write(3))
        for src, docs in fx.items():
            if src == "mam":
                continue
            lines = (d / "full" / src / "part-0.jsonl").read_text().splitlines()
            self.assertEqual(lines[:len(docs)], docs)

    def test_generated_ids_avoid_the_fixture_ids(self):
        fx = gen.fixture_docs()
        d = Path(self.write(4)) / "full"
        generated = "".join(
            "\n".join((d / src / "part-0.jsonl").read_text().splitlines()[len(docs):])
            for src, docs in fx.items() if src != "mam")
        generated += (d / "mam" / "tenants-1.json").read_text()
        for fid in gen.fixture_ids(fx):
            self.assertNotIn(f'"{fid}"', generated)


def span(i, parent, start, end, layer="model"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer, "name": f"s{i}"}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20), span(5, 0, 200, 250)]
        st = stats.self_times(spans)
        # children 2 and 3 overlap on [30, 40): they cover 50, not 60
        self.assertEqual(st, {1: 50, 2: 25, 3: 30, 4: 5, 5: 50})

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 30)])[1], 5)

    def test_layer_metrics(self):
        spans = [span(1, 0, 0, 100, "pipeline"), span(2, 1, 10, 40, "model"),
                 span(3, 0, 100, 130, "sparql"), span(4, 3, 100, 101, "ingest")]
        counters = {"1": {"jobs": 2, "tasks": 8, "task_cpu_ns": 5e8},
                    "2": {"jobs": 1, "tasks": 4, "shuffle_write_bytes": 64},
                    "-1": {"jobs": 1}}
        m = stats.layer_metrics(spans, counters, {"gc_s": 0.5, "codegen_classes": 7})
        self.assertAlmostEqual(m["pipeline.self_s"], 70e-9)
        self.assertAlmostEqual(m["sparql.self_s"], 29e-9)
        self.assertEqual(m["sources.self_s"], 0)
        self.assertEqual(m["model.jobs"], 1)
        self.assertEqual(m["model.shuffle_write_bytes"], 64)
        self.assertEqual(m["sparql.jobs"], 0)
        self.assertEqual(m["run.jobs"], 4)
        self.assertAlmostEqual(m["run.task_cpu_s"], 0.5)
        self.assertEqual(m["run.gc_s"], 0.5)
        self.assertEqual(m["run.codegen_classes"], 7)
        self.assertEqual(sorted(m), sorted(stats.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
