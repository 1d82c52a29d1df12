"""Tests of the benchmark itself.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests

The JVM tests build the program first (perfbench/build.sh) and take about
two minutes in all on a 4-core machine.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def fresh(name):
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def read_tree(path):
    out = {}
    for base, _, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = f.read()
    return out


def expected_tuples(corpus):
    """expected.tsv back as value tuples, doubles parsed, blanks as None."""
    with open(os.path.join(corpus, "manifest.json")) as f:
        doubles = set(json.load(f)["expected"]["double_columns"])
    with open(os.path.join(corpus, "expected.tsv"), encoding="utf-8") as f:
        cols = f.readline().rstrip("\n").split("\t")
        rows = []
        for line in f:
            cells = line.rstrip("\n").split("\t")
            rows.append(tuple(None if v == "" else
                              float(v) if c in doubles else v
                              for c, v in zip(cols, cells)))
    return cols, rows


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        for workload in ("tiny", "clean_many_states"):
            pa, pb = fresh("gen_a"), fresh("gen_b")
            gen.generate(pa, workload, 7)
            gen.generate(pb, workload, 7)
            a, b = read_tree(pa), read_tree(pb)
            self.assertEqual(sorted(a), sorted(b))
            for name in a:
                self.assertEqual(a[name], b[name], name)

    def test_other_seed_gives_other_corpus(self):
        a = gen.generate(fresh("seed_1"), "tiny", 1)
        b = gen.generate(fresh("seed_2"), "tiny", 2)
        self.assertNotEqual(a["expected"]["digest"], b["expected"]["digest"])

    def test_expected_digest_matches_file(self):
        corpus = fresh("digest")
        m = gen.generate(corpus, "tiny", 3)
        cols, rows = expected_tuples(corpus)
        self.assertEqual(cols, sorted(cols))
        self.assertEqual(len(rows), m["expected"]["rows"])
        self.assertEqual(str(gen.digest(rows)), m["expected"]["digest"])

    def test_digest_catches_one_cell_change(self):
        corpus = fresh("digest_cell")
        gen.generate(corpus, "tiny", 3)
        cols, rows = expected_tuples(corpus)
        base = gen.digest(rows)
        for i, v in enumerate(rows[0]):
            if v is None:
                continue
            changed = list(rows[0])
            changed[i] = (v + 1.0 if isinstance(v, float) else v + "x")
            self.assertNotEqual(gen.digest([tuple(changed)] + rows[1:]), base,
                                cols[i])
        # order-independent, but not blind to a swapped pair of cells
        self.assertEqual(gen.digest(list(reversed(rows))), base)
        swapped = list(rows[0])
        strs = [k for k, v in enumerate(swapped) if isinstance(v, str)]
        i = strs[0]
        j = next(k for k in strs if swapped[k] != swapped[i])
        swapped[i], swapped[j] = swapped[j], swapped[i]
        self.assertNotEqual(gen.digest([tuple(swapped)] + rows[1:]), base)


class CompareTest(unittest.TestCase):

    def result(self, name, **meta):
        doc = {"meta": {"workload": "tiny", "trace": 0, "cpus": 4, "seed": 1,
                        "input": {"files": 8, "rows": 81, "bytes": 100}},
               "metrics": {"batch_s": {"value": 1.0, "unit": "s"}}}
        doc["meta"].update(meta)
        path = os.path.join(SCRATCH, name)
        os.makedirs(SCRATCH, exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f)
        return path

    def compare(self, a, b):
        return subprocess.run([sys.executable, os.path.join(BENCH, "compare.py"),
                               a, b], capture_output=True, text=True)

    def test_refuses_mismatched_runs(self):
        base = self.result("base.json")
        for k, v in (("seed", 2), ("cpus", 8),
                     ("input", {"files": 8, "rows": 82, "bytes": 100})):
            r = self.compare(base, self.result("other.json", **{k: v}))
            self.assertEqual(r.returncode, 2, k)
            self.assertIn(k, r.stderr)

    def test_unparseable_baseline_is_an_error(self):
        bad = os.path.join(SCRATCH, "bad.json")
        with open(bad, "w") as f:
            f.write('{"meta": {"seed": 1}, "metrics": ')
        r = self.compare(bad, self.result("new.json"))
        self.assertEqual(r.returncode, 2)
        self.assertIn("unreadable", r.stderr)

    def test_same_shape_compares(self):
        r = self.compare(self.result("a.json"), self.result("b.json"))
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertIn("batch_s", r.stdout)


class JvmTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        run.build()

    def selftest(self, corpus, other=None):
        out = os.path.join(corpus, "selftest.json")
        cmd = run.java("perfbench.SelfTest") + ["--input", corpus,
                                                "--out", out]
        if other:
            cmd += ["--other", other]
        subprocess.run(cmd, check=True, capture_output=True)
        with open(out) as f:
            return json.load(f)

    def test_listener_spans_and_spark_digest(self):
        corpus = fresh("selftest")
        m = gen.generate(corpus, "tiny", 5)
        # the same table with one cell changed
        other = os.path.join(corpus, "changed.tsv")
        with open(os.path.join(corpus, "expected.tsv"), encoding="utf-8") as f:
            lines = f.readlines()
        cells = lines[1].split("\t")
        cells[0] += "x"
        lines[1] = "\t".join(cells)
        with open(other, "w", encoding="utf-8") as f:
            f.writelines(lines)

        r = self.selftest(corpus, other)
        self.assertEqual((r["jobs"], r["stages"], r["tasks"]), (2, 3, 9))
        self.assertGreater(r["shuffle_write"], 0)
        self.assertEqual(r["shuffle_read"], r["shuffle_write"])
        self.assertGreater(r["job_wall_s"], 0)
        self.assertGreaterEqual(r["span_s"], 0.3)
        self.assertAlmostEqual(r["span_self_s"], r["span_s"] - 0.2, delta=0.05)
        self.assertEqual(r["expected"], {"rows": m["expected"]["rows"],
                                         "digest": m["expected"]["digest"]})
        self.assertEqual(r["other"]["rows"], m["expected"]["rows"])
        self.assertNotEqual(r["other"]["digest"], m["expected"]["digest"])

    def test_emitted_metrics_are_the_declared_ones(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                 "tiny", "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                capture_output=True, text=True, cwd=ROOT)
            self.assertEqual(r.returncode, 0, r.stderr[-2000:])
            last = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertEqual(sorted(last), ["attempted", "correct", "failed",
                                            "metrics"])
            self.assertTrue(last["correct"])
            self.assertEqual(last["failed"], 0)
            declared = {m["name"]: m["unit"] for m in spec[key]}
            emitted = {k: v["unit"] for k, v in last["metrics"].items()}
            self.assertEqual(emitted, declared)


if __name__ == "__main__":
    unittest.main()
