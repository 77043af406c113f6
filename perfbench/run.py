"""The repository benchmark: one command builds the program, generates
the seeded inputs, runs a workload, checks its outputs and prints every
metric with its unit.

Usage (from the repository root):

    python3 perfbench/run.py --workload github_events --seed 1 --seconds 20 --trace 0

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = ROOT / ".bench_build"
WORKLOADS = {"github_events": "github", "tweets": "tweets"}
DEFAULT_SEED = 1
COLD_SETUPS = 2  # JVM launches to READY per untraced run; setup_s is their median
RUN_LIMIT_S = 170  # every JVM of a run, data generation included, ends within this
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_cmd(classes: Path, tmp: Path, main: str, args) -> list:
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classes}:{build.spark_jars()}/*", main] + [str(a) for a in args]


def run_jvm(cmd, log: Path, deadline: float):
    """Runs a JVM to completion; returns (seconds until its READY line, stdout)."""
    t0 = time.monotonic()
    timeout = deadline - t0
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        ready, lines = None, []
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == "READY":
                    ready = time.monotonic() - t0
                lines.append(line)
                if time.monotonic() - t0 > timeout:
                    raise subprocess.TimeoutExpired(cmd, timeout)
            proc.wait(timeout=max(1.0, timeout - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {timeout}s (log: {log.relative_to(ROOT)})")
    if proc.returncode != 0 or ready is None:
        fail(f"JVM exited with {proc.returncode} (log: {log.relative_to(ROOT)})")
    return ready, "".join(lines)


def file_digests(root: Path) -> dict:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file() and p.name != ".done"}


def ensure_data(classes: Path, shape: str, seed: int, log: Path, with_tables: bool):
    """Generated inputs for (shape, seed), cached; other seeds' inputs are
    removed. The star-schema tables are made only `with_tables`."""
    data = BUILD / "data"
    data.mkdir(parents=True, exist_ok=True)
    corpus, tables = data / f"{shape}-s{seed}", data / f"sf-s{seed}"
    for old in data.iterdir():
        if not old.name.endswith(f"-s{seed}"):
            shutil.rmtree(old, ignore_errors=True)
    if not (corpus / ".done").exists():
        shutil.rmtree(corpus, ignore_errors=True)
        with open(log, "ab") as err:
            subprocess.run(java_cmd(classes, BUILD, "graft.perfbench.Corpus", [shape, seed, corpus]),
                           check=True, stdout=err, stderr=err, timeout=60)
        (corpus / ".done").touch()
    if with_tables and not (tables / ".done").exists():
        shutil.rmtree(tables, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen_tables.py"), str(seed), str(tables)],
                       check=True, timeout=60)
        (tables / ".done").touch()
    return corpus, tables


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e), 2)
    if spec is None:
        fail("BENCHMARK.json not found", 2)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    deadline = time.monotonic() + RUN_LIMIT_S
    shape = WORKLOADS[args.workload]
    work = BUILD / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = BUILD / "jvm.log"
    log.unlink(missing_ok=True)
    corpus, tables = ensure_data(classes, shape, args.seed, log, with_tables=bool(args.trace))

    checks = []  # (name, ok, detail)
    if args.seed == DEFAULT_SEED:
        want = json.loads((HERE / "digests.json").read_text())
        for name, root in ((shape, corpus), ("sf", tables))[:2 if args.trace else 1]:
            got = file_digests(root)
            checks.append((f"generator.digest.{name}", got == want.get(name),
                           "generated files differ from digests.json"))

    # setup_s is an end-to-end metric: the untraced run launches the JVM to
    # READY (session built and warmed up) more than once; the last launch
    # runs the workload
    setup = []
    for _ in range(0 if args.trace else COLD_SETUPS - 1):
        ready, _ = run_jvm(java_cmd(classes, work / "tmp", "graft.perfbench.Main",
                                    ["--setup-only", 1, "--work", work]), log, deadline)
        setup.append(ready)
    jvm_args = ["--workload", args.workload, "--data", corpus, "--work", work,
                "--seconds", args.seconds, "--trace", args.trace] + (["--sf", tables] if args.trace else [])
    ready, out = run_jvm(java_cmd(classes, work / "tmp", "graft.perfbench.Main", jvm_args), log, deadline)
    setup.append(ready)

    found = metrics.parse(out)
    found["setup_s"] = {"value": statistics.median(setup), "unit": "s", "workload": args.workload}
    ops = metrics.parse_ops(out)
    if ops is None:
        fail("the JVM printed no ops line")
    attempted, failed = ops
    if args.trace:
        for name, ok, detail in oracle.compare(str(work / "slice_results.json"), str(tables)):
            checks.append((f"oracle.{name}", ok, detail))
    for name, ok, detail in checks:
        attempted += 1
        if not ok:
            failed += 1
            print(f"check FAIL {name} {detail}")
    missing = [n for n in wanted if n not in found]
    if missing:
        fail(f"metrics missing from the run: {missing}")

    host = next((l[5:] for l in out.splitlines() if l.startswith("host ")), "{}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": json.loads(host), "setup_samples": setup,
              "phases": [l[6:] for l in out.splitlines() if l.startswith("phase ")],
              "metrics": {k: v for k, v in found.items()}}
    runs = BUILD / "runs"
    runs.mkdir(exist_ok=True)
    (runs / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        trace_file = work / "trace.jsonl"
        if trace_file.exists():
            shutil.copyfile(trace_file, runs / f"{args.workload}-s{args.seed}.trace.jsonl")

    print(f"host {host}")
    for line in record["phases"]:
        print(f"phase {line}")
    for name in wanted:
        m = found[name]
        print(f"metric {args.workload} {name} {m['value']!r} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": found[n]["value"], "unit": found[n]["unit"]} for n in wanted}}
    if failed == 0:  # a failed run keeps its work directory for inspection
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
