#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the harness from
source on first use (sbt, cached under perfbench/target), prepares the
workload's inputs from the seed, runs the harness JVM for the time window,
checks every output, and prints each metric with its unit followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
sys.path.insert(0, str(HERE))
import tables  # noqa: E402

# Metric names and units, as declared for this benchmark.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

DAILY = {"daily_nested_bulk"}
QUERIES = {"registry_queries"}
# Per-layer metrics each workload measures. A traced run reports every
# per-layer metric; those of layers the workload does not run read 0.
LAYERS = {
    "daily_nested_bulk": [k for k in PER_LAYER if not k.startswith("queries.")],
    "registry_queries": [k for k in PER_LAYER if k.startswith(("queries.", "trace."))],
}
QUERY_SF = 0.02

JVM_FLAGS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+AlwaysPreTouch"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    """Compile program + harness once per source state; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT} (need build.sbt and src/main/scala)")
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        for p in sorted(base.rglob("*")):
            if p.is_file() and "target" not in p.parts:
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    for p in (ROOT / "build.sbt", HERE / "build.sbt"):
        h.update(p.read_bytes())
    stamp = HERE / "target" / "bench-classpath.json"
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("sources") == h.hexdigest():
            return cached["classpath"]
    print("perfbench: building program and harness (sbt)...", file=sys.stderr)
    t0 = time.time()
    # Offline: every dependency comes from the local caches.
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.override.build.repos=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, env={**os.environ, "COURSIER_MODE": "offline"})
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"sources": h.hexdigest(), "classpath": lines[-1]}))
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return lines[-1]


def jvm(classpath, main, args, log, timeout):
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", classpath, main, *args]
    with open(log, "w") as out:
        return subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def oracle_failures(out, data):
    """FAIL lines of the repository's DuckDB oracle check for the query
    results under `out` (one parquet directory per query plus
    oracle_sql.json) over the tables under `data`."""
    proc = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                           str(out), str(data)], stdout=subprocess.PIPE, text=True)
    fails = [l for l in proc.stdout.splitlines() if l.startswith("FAIL")]
    if proc.returncode != 0 and not fails:
        fails.append(f"oracle check exited with {proc.returncode}")
    return fails


def run(a):
    if a.workload not in DAILY | QUERIES:
        fail(f"unknown workload {a.workload}")
    classpath = build()
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--cores", str(min(4, os.cpu_count() or 1))]
    if a.workload in QUERIES:
        t0 = time.perf_counter()
        tables.generate(str(work / "data"), a.seed, QUERY_SF)
        args += ["--data", str(work / "data"), "--prep-s", str(time.perf_counter() - t0)]
    code = jvm(classpath, "perfbench.Main", args, work / "jvm.log", timeout=150)
    result_file = work / "result.json"
    if code != 0 or not result_file.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {code}", 1)
    r = json.loads(result_file.read_text())
    problems = r["problems"]
    failed = r["failed"]
    if a.workload in QUERIES:
        # An oracle failure fails every run of that query that returned
        # the same rows as the one checked.
        for why in oracle_failures(work / "out", work / "data"):
            failed += r["same_as_checked"].get(why.split()[1].rstrip(":"), 1)
            problems.append(why)
    m = r["metrics"]
    if a.trace:
        m["trace.unit_p50_s"], m["trace.rows_per_s"] = m.get("unit_p50_s"), m.get("rows_per_s")
    wanted = PER_LAYER if a.trace else END_TO_END
    owned = LAYERS[a.workload] if a.trace else END_TO_END
    metrics = {}
    for k, u in wanted.items():
        v = m.get(k)
        if k not in owned:
            v = 0.0
        elif not isinstance(v, (int, float)) or not math.isfinite(v):
            # Missing or NaN (a run that failed before timing anything):
            # the run fails, and 0 keeps the JSON valid.
            failed += 1
            problems.append(f"metric {k} is {v}")
            v = 0.0
        metrics[k] = {"value": v, "unit": u}

    for p in problems:
        print(f"PROBLEM {p}")
    units = "days" if a.workload in DAILY else "passes"
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{int(m['units'])} timed {units}, tail = p{m['unit_tail_pct']:.0f} "
          f"of {int(m['units'])} samples: "
          + " ".join(f"{x:.3f}" for x in r["samples"]))
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print("  setup: " + ", ".join(f"{k[6:]} = {v:.3g} s" for k, v in m.items()
                                  if k.startswith("setup.")))
    if not a.trace:
        if a.workload in DAILY:
            print(f"  day_p50_s = {m['unit_p50_s']:.6g} s, day_tail_s = {m['unit_tail_s']:.6g} s, "
                  f"flow_rows_per_s = {m['rows_per_s']:.6g} 1/s")
        else:
            print(f"  query_total_s = {m['unit_p50_s']:.6g} s (median pass)")
    print(f"  fail_ratio = {failed}/{r['attempted']} = "
          f"{failed / max(1, r['attempted']):.4g}")
    shutil.rmtree(work / "input", ignore_errors=True)
    shutil.rmtree(work / "warehouse", ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not problems,
                      "attempted": max(1, int(r["attempted"])),
                      "failed": int(failed), "metrics": metrics}))


def selftest():
    """Generator determinism, checkers rejecting corrupted outputs, and
    trace spans nesting (the last two in the harness's SelfTest)."""
    classpath = build()
    work = WORK / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    a, b, c = (work / x for x in ("tables-a", "tables-b", "tables-c"))
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        tables.generate(str(d), seed, 0.001)
    same = all((a / f).read_bytes() == (b / f).read_bytes() for f in os.listdir(a))
    differ = any((a / f).read_bytes() != (c / f).read_bytes() for f in os.listdir(a))
    results = [("tables generator: same seed, identical files; other seed, other files",
                same and differ)]
    code = jvm(classpath, "perfbench.SelfTest", [str(work), str(a)], work / "jvm.log", 600)
    print("".join(l for l in open(work / "jvm.log") if l.startswith(("PASS", "FAIL"))), end="")
    out = work / "out"
    results.append(("oracle check accepts a correct query output",
                    not oracle_failures(out, a)))
    import pandas as pd
    q = next(p for p in out.iterdir() if p.is_dir())
    df = pd.read_parquet(q)
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[0, col] = df.loc[0, col] + 1
    shutil.rmtree(q)
    q.mkdir()
    df.to_parquet(q / "part-0.parquet")
    results.append(("oracle check rejects one altered value",
                    bool(oracle_failures(out, a))))
    for name, ok in results:
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    sys.exit(0 if code == 0 and all(ok for _, ok in results) else 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if a.selftest:
        selftest()
    elif a.workload:
        run(a)
    else:
        p.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
