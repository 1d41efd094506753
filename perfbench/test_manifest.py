#!/usr/bin/env python3
"""Workload manifest test: nothing enters or leaves the benchmark silently.

  python3 perfbench/test_manifest.py

Fails when a workload names a query that SparkEntry.catalog does not have,
when a bench-flagged catalog query belongs to no workload (or to two), when
a panel query is not a member of its workload, when a member has no
reference fingerprint, or when the membership no longer follows the
selection rule applied to the round-18 bench artifact.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

R18 = os.path.join(run.ROOT, "bench_r18_final_local.json")
STREAM_GATE = re.compile(r"n(1[3-9]|2\d|3[0-3])_")


def select(artifact):
    """The selection rule: the streaming gates n13-n33 form stream_gates;
    of the other benched queries, those with median steady exec_run < 1.0 s
    and median shuffle < 10 MB form catalog_floor, the rest heavy_kernels."""
    probe = next(json.loads(l) for l in open(artifact) if '"pass_probe"' in l)["queries"]
    out = {"catalog_floor": [], "heavy_kernels": [], "stream_gates": []}
    for q, v in sorted(probe.items()):
        if STREAM_GATE.match(q):
            out["stream_gates"].append(q)
        elif statistics.median(v["exec"]) < 1.0 and statistics.median(v["mb"]) < 10:
            out["catalog_floor"].append(q)
        else:
            out["heavy_kernels"].append(q)
    return out


class ManifestTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes, _ = run.build()
        r = subprocess.run([run.java(), "-cp", classes + ":" + os.path.join(run.spark_jars(), "*"),
                            "perfbench.Harness", "list"], capture_output=True, text=True, timeout=300, check=True)
        rows = [l.split("\t") for l in r.stdout.splitlines() if "\t" in l]
        cls.catalog = {name: bench == "true" for name, bench, _ in rows}
        cls.workloads = run.manifest()["workloads"]
        with open(run.REFERENCE) as f:
            cls.reference = json.load(f)["fingerprints"]

    def test_listed_names_are_in_the_catalog(self):
        for w, spec in self.workloads.items():
            for q in spec["members"]:
                self.assertTrue(q in self.catalog, f"{w} lists {q}, which SparkEntry.catalog lacks")

    def test_every_bench_query_is_in_exactly_one_workload(self):
        for q, bench in self.catalog.items():
            if bench:
                homes = [w for w, spec in self.workloads.items() if q in spec["members"]]
                self.assertEqual(len(homes), 1, f"bench-flagged {q} belongs to {homes or 'no workload'}")

    def test_panel_is_drawn_from_the_members(self):
        for w, spec in self.workloads.items():
            self.assertTrue(spec["panel"])
            self.assertLessEqual(set(spec["panel"]), set(spec["members"]), w)

    def test_every_member_has_a_reference_fingerprint(self):
        for spec in self.workloads.values():
            for q in spec["members"]:
                self.assertTrue(q in self.reference, f"{q} has no reference fingerprint")

    @unittest.skipUnless(os.path.exists(R18), "round-18 bench artifact not in this checkout")
    def test_membership_follows_the_rule(self):
        expected = select(R18)
        for w, spec in self.workloads.items():
            self.assertEqual(sorted(spec["members"]), expected[w], w)


if __name__ == "__main__":
    unittest.main()
