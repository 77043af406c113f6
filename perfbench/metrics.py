"""Parser for the benchmark JVM's metric lines.

The JVM prints one metric per line, bare:

    metric <workload> <name> <value> <unit>

`parse` also accepts lines that passed through a logger that prefixes
them (sbt's `[info] `), so captured output parses the same either way.
"""
import re

_PREFIX = r"^(?:\[[a-z]+\]\s+)*"
METRIC = re.compile(_PREFIX + r"metric\s+(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s*$")
OPS = re.compile(_PREFIX + r"ops\s+(\d+)\s+(\d+)\s*$")


def parse(text: str) -> dict:
    """name -> {"value", "unit", "workload"}; the last line for a name wins."""
    out = {}
    for line in text.splitlines():
        m = METRIC.match(line.strip())
        if m:
            workload, name, value, unit = m.groups()
            out[name] = {"value": float(value), "unit": unit, "workload": workload}
    return out


def parse_ops(text: str):
    """(attempted, failed) from the `ops` line, or None."""
    found = None
    for line in text.splitlines():
        m = OPS.match(line.strip())
        if m:
            found = (int(m.group(1)), int(m.group(2)))
    return found
