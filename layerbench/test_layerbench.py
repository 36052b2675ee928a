"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest layerbench/test_layerbench.py

The JVM-side tests (fixture determinism, the checking sender) build the
program first if needed and run graft.layerbench.SelfTest.
"""
import json
import re
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def span(id_, parent, start, end, name="x", attrs=None):
    return {"id": id_, "parent": parent, "name": name, "start_us": start,
            "end_us": end, "attrs": attrs or {}}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            span("root", "", 0, 100),
            span("a", "root", 10, 40),
            span("b", "root", 30, 60),    # overlaps a: the union counts once
            span("a1", "a", 15, 20),
            span("c", "root", 90, 120),   # runs past its parent: clipped
            span("orphan", "gone", 0, 7),
        ]
        self.assertEqual(report.self_times(spans),
                         {"root": 100 - 50 - 10, "a": 30 - 5, "b": 30, "a1": 5,
                          "c": 30, "orphan": 7})

    def test_sequential_children_sum_to_parent(self):
        spans = [span("r", "", 0, 60), span("x", "r", 0, 20), span("y", "r", 20, 50)]
        st = report.self_times(spans)
        self.assertEqual(sum(st.values()), 60)


class MetricContractTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_declared_metrics_have_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for k in ("end_to_end", "per_layer"):
            for m in SPEC[k]:
                self.assertRegex(m["name"], self.NAME)
                self.assertRegex(m["unit"], self.UNIT)
                self.assertIn(m["better"], ("lower", "higher"))
        self.assertIn("setup_s", [m["name"] for m in SPEC["end_to_end"]])

    def test_every_printed_metric_carries_name_and_unit(self):
        e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        result = {"metrics": {n: 1.5 for n in e2e}, "layer": {}}
        for w in report.LOADS:
            out = report.assemble(w, 0, result, [], {}, e2e)
            self.assertEqual(set(out), set(e2e))
            for n, v in out.items():
                self.assertEqual(set(v), {"value", "unit"})
                self.assertEqual(v["unit"], e2e[n])

    def test_layers_a_workload_loads_must_be_measured(self):
        layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        with self.assertRaises(KeyError):
            report.assemble("replay-batch", 1, {"metrics": {}, "layer": {}}, [], {}, layer)


class JvmSelfTest(unittest.TestCase):
    def test_fixtures_and_checking_sender(self):
        build_dir = ROOT / ".bench_build"
        build_dir.mkdir(exist_ok=True)
        cp = build.build(ROOT, build_dir)
        with tempfile.TemporaryDirectory(dir=build_dir) as tmp:
            p = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                "graft.layerbench.SelfTest"],
                               capture_output=True, text=True, timeout=300)
        print(p.stdout, end="")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertNotIn("FAIL", p.stdout)
        self.assertGreaterEqual(p.stdout.count("ok "), 10)


if __name__ == "__main__":
    unittest.main()
