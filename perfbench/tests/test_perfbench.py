"""Tests of the benchmark itself: generator determinism, ground-truth
arithmetic, and that metric names agree with BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import re
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

SMALL_SHAPES = {
    "large_project": {"projects": 1, "psms": 900, "warm": (200,),
                      "shares": (0.5, 0.25, 0.15, 0.10)},
    "small_projects": {"projects": 3, "sizes": (300, 600), "warm": (200, 200),
                       "shares": (1.0,)},
}


def generate(workload, seed, out):
    with mock.patch.object(gen, "WORKLOADS", SMALL_SHAPES):
        return gen.generate(workload, seed, out)


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def reparse(project_dir, accession):
    """Independent reading of the written files: PSMs from the mzIdentML,
    spectra from the MGF files."""
    with open(os.path.join(project_dir, f"{accession}.mzid")) as f:
        xml = f.read()
    decoy_ev = {m.group(1): m.group(2) == "true"
                for m in re.finditer(r'<PeptideEvidence id="([^"]+)"[^>]*isDecoy="(\w+)"', xml)}
    seqs = dict(re.findall(r'<Peptide id="([^"]+)"><PeptideSequence>(\w+)<', xml))
    psms = []
    for m in re.finditer(r'<SpectrumIdentificationItem id="([^"]+)".*?peptide_ref="([^"]+)"'
                         r'.*?</SpectrumIdentificationItem>', xml, re.S):
        refs = re.findall(r'peptideEvidence_ref="([^"]+)"', m.group(0))
        score = float(re.search(r'name="MS-GF:RawScore" value="([^"]+)"', m.group(0)).group(1))
        psms.append({"psm_id": f"{accession}.mzid:{m.group(1)}", "seq": seqs[m.group(2)],
                     "decoy": all(decoy_ev[r] for r in refs), "score": score})
    spectra = 0
    for name in os.listdir(project_dir):
        if name.endswith(".mgf"):
            with open(os.path.join(project_dir, name)) as f:
                spectra += sum(1 for line in f if line == "BEGIN IONS\n")
    return psms, spectra


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        for workload in SMALL_SHAPES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                generate(workload, 7, a)
                generate(workload, 7, b)
                generate(workload, 8, c)
                files = tree(a)
                self.assertEqual(files, tree(b))
                match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)
                _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
                self.assertTrue(differ, f"{workload}: another seed gave the same files")

    def test_small_project_sizes_are_stratified(self):
        with tempfile.TemporaryDirectory() as out:
            truths = generate("small_projects", 3, out)
        sizes = sorted(t["psms"] for t in truths)
        # strata of width 100 starting at 300; each size within 5 of a midpoint
        for size, mid in zip(sizes, (350, 450, 550)):
            self.assertLessEqual(abs(size - mid), 5)


class GroundTruthTest(unittest.TestCase):
    def test_q_values_by_hand(self):
        # best first: 9 T, 8 D, 7 T, 6 T, 5 D; fdr = 0, 1, 1/2, 1/3, 2/3
        psms = [{"psm_id": f"f:{i}", "score": s, "decoy": d}
                for i, (s, d) in enumerate([(9, False), (8, True), (7, False), (6, False),
                                            (5, True)])]
        q = gen.q_values(psms)
        # q = min fdr at or after: 0, 1/3, 1/3, 1/3, 2/3; the zero is repaired
        # to min(positive q) / 10 rounded half up to 6 places
        self.assertEqual(q, [0.033333, 1 / 3, 1 / 3, 1 / 3, 2 / 3])

    def test_ties_break_on_psm_id(self):
        psms = [{"psm_id": "f:b", "score": 5.0, "decoy": False},
                {"psm_id": "f:a", "score": 5.0, "decoy": True}]
        # f:a ranks first: fdr 1/1 then 1/1
        self.assertEqual(gen.q_values(psms), [1.0, 1.0])

    def test_no_positive_q_repairs_to_nan(self):
        q = gen.q_values([{"psm_id": "f:a", "score": 1.0, "decoy": False}])
        self.assertNotEqual(q[0], q[0])

    def test_truth_matches_an_independent_reading_of_the_files(self):
        with tempfile.TemporaryDirectory() as out:
            truths = generate("large_project", 11, out)
            t = truths[0]
            psms, spectra = reparse(os.path.join(out, "inputs", "p00"), t["accession"])
        self.assertEqual(t["psms"], len(psms))
        self.assertEqual(t["decoys"], sum(p["decoy"] for p in psms))
        self.assertEqual(t["spectra"], spectra)
        self.assertEqual(spectra, len(psms) + len(psms) // 10)
        kept = [p for p, q in zip(psms, gen.q_values(psms)) if q <= 0.01 and len(p["seq"]) >= 7]
        self.assertEqual(t["survivors"], len(kept))
        # every surviving PSM belongs to exactly one planted cluster
        self.assertLessEqual(len(t["clusters"]), t["survivors"])
        self.assertEqual(sorted(set(t["clusters"])), t["clusters"])
        self.assertEqual(set(t["clusters"]), {p["seq"] for p in kept})


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        src = os.path.join(BENCH, "src", "main", "scala", "perfbench")
        cls.scala = {}
        for name in os.listdir(src):
            with open(os.path.join(src, name)) as f:
                cls.scala[name] = f.read()

    def literals(self, text):
        return set(re.findall(r'"([a-z0-9_.]+)" ->\s*\(', text))

    def method(self, name):
        """Body of a method of Main.scala's Workload."""
        return re.search(rf"  def {name}\(.*?\n  }}\n", self.scala["Main.scala"], re.S).group(0)

    def test_end_to_end_names(self):
        want = {m["name"] for m in self.spec["end_to_end"]}
        self.assertEqual(self.literals(self.method("timed")) | {"setup_s"}, want)

    def test_per_layer_names(self):
        walk = self.scala["Walk.scala"]
        spans = re.findall(r'"([a-z_.]+)"', re.search(
            r"val Spans: Seq\[String\] = Seq\((.*?)\)", walk, re.S).group(1))
        fields = re.findall(r'"([a-z_]+)" -> "[^"]+"', re.search(
            r"val Fields: .*? = Seq\((.*?)\)\n", walk, re.S).group(1))
        expected = {f"{s}.{f}" for s in spans for f in fields}
        expected |= self.literals(walk)
        expected |= self.literals(self.method("traced"))
        self.assertEqual({m["name"] for m in self.spec["per_layer"]}, expected)

    def test_contract_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in s[k]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        self.assertEqual(len(set(m["name"] for m in s["end_to_end"] + s["per_layer"])),
                         len(s["end_to_end"]) + len(s["per_layer"]))
        bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(len(s["per_layer"]), 128)
        self.assertEqual(sorted(w["name"] for w in s["workloads"]), sorted(gen.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
