"""Self-test of the benchmark's output parser.

Feeds captured benchmark output (one traced and one untraced run)
through `metrics.parse`, bare and with every line behind an sbt-style
`[info] ` prefix plus sbt's trailing `[success]` line, and asserts that
every metric named in BENCHMARK.json is recovered with the same value.

Usage (from the repository root): python3 perfbench/test/test_metrics.py
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import metrics  # noqa: E402

SPEC = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
CAPTURED = {0: HERE / "captured_trace0.txt", 1: HERE / "captured_trace1.txt"}


def with_sbt_prefix(text: str) -> str:
    lines = [f"[info] {l}" for l in text.splitlines()]
    lines.append("[success] Total time: 61 s (01:01), completed Oct 17, 2026, 10:15:00 AM")
    return "\n".join(lines) + "\n"


class ParseCapturedOutput(unittest.TestCase):
    def check(self, trace: int, transform):
        text = CAPTURED[trace].read_text()
        bare = metrics.parse(text)
        got = metrics.parse(transform(text))
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        for m in wanted:
            self.assertIn(m["name"], got, f"{m['name']} not recovered")
            self.assertEqual(got[m["name"]]["value"], bare[m["name"]]["value"])
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
        # the last line is the result object, bare
        last = json.loads(text.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})

    def test_untraced_bare(self):
        self.check(0, lambda t: t)

    def test_untraced_sbt_prefixed(self):
        self.check(0, with_sbt_prefix)

    def test_traced_bare(self):
        self.check(1, lambda t: t)

    def test_traced_sbt_prefixed(self):
        self.check(1, with_sbt_prefix)

    def test_ops_line(self):
        self.assertEqual(metrics.parse_ops("[info] ops 51 0\n"), (51, 0))


if __name__ == "__main__":
    unittest.main()
