#!/usr/bin/env python3
"""Benchmark entry point for the graft KG-construction library.

    python3 perfbench/run.py --workload kg_recrawl --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark from source with sbt (first run only),
starts one JVM that sets the workload up from the seed and measures it for
--seconds, checks every output, and prints one JSON line as the last line
of stdout: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The full report, with the environment,
the samples and the checks, is written to perfbench/out/. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if p.is_file():
            newest = max(newest, p.stat().st_mtime)
        elif p.is_dir():
            for f in p.rglob("*"):
                if f.is_file() and "target" not in f.parts:
                    newest = max(newest, f.stat().st_mtime)
    return newest


def build():
    """Compiles the library and the benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: the library sources (build.sbt, src/main) are missing")
    stamp = HERE / "target" / "classpath.txt"
    sources = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
               HERE / "build.sbt", HERE / "project", HERE / "src" / "main"]
    if not stamp.is_file() or stamp.stat().st_mtime < newest_mtime(sources):
        log("building with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if res.returncode != 0 or not stamp.is_file():
            raise SystemExit(f"perfbench: sbt build failed ({res.returncode})")
    return stamp.read_text().strip()


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise SystemExit("perfbench: no MemTotal in /proc/meminfo")


def heap_gb(mem_kb):
    """Half of MemTotal, clamped to [2, 8] GiB: the test suite's rule."""
    return min(8, max(2, mem_kb // 2097152))


def run_jvm(classpath, args, work, report):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap = f"{heap_gb(mem_total_kb())}g"
    cmd = ["java", f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--report", str(report)]
    with open(work / "jvm.log", "wb") as jvm_log:
        proc = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not report.is_file():
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    return json.loads(report.read_text())


# absolute tolerance for numbers when either side is not an integer, as in
# tools/oracle_check.py
FLOAT_TOL = 1e-9


def is_number(v):
    return isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)


def order_key(row):
    """A total order over rows of mixed types; numbers order by value."""
    return tuple((0, 0.0, "") if v is None else
                 (1, float(v), "") if is_number(v) else
                 (2, 0.0, v if isinstance(v, str) else str(v)) for v in row)


def cmp_value(a, b):
    """-1, 0 or 1. Two integers compare exactly; other numbers as floats
    within FLOAT_TOL; everything else by value, then by text."""
    if is_number(a) and is_number(b):
        if isinstance(a, int) and isinstance(b, int):
            return (a > b) - (a < b)
        d = float(a) - float(b)
        return 0 if abs(d) <= FLOAT_TOL else (1 if d > 0 else -1)
    ka, kb = order_key((a,)), order_key((b,))
    return (ka > kb) - (ka < kb)


def cmp_row(a, b):
    for x, y in zip(a, b):
        c = cmp_value(x, y)
        if c:
            return c
    return 0


def compare(got_cols, got, want_cols, want):
    """Compares a result with its oracle as tools/oracle_check.py does: the
    same columns, and, once columns and rows are put in order, equal rows,
    numbers within FLOAT_TOL. Also counts the rows both sides share, by a
    merge of the two sorted row lists."""
    if sorted(got_cols) != sorted(want_cols):
        return {"ok": False, "why": f"columns {got_cols} != {want_cols}",
                "got": len(got), "want": len(want), "matched": 0}
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    g = sorted((tuple(r[i] for i in gi) for r in got), key=order_key)
    w = sorted((tuple(r[i] for i in wi) for r in want), key=order_key)
    i = j = matched = 0
    while i < len(g) and j < len(w):
        c = cmp_row(g[i], w[j])
        matched += c == 0
        i += c <= 0
        j += c >= 0
    return {"ok": matched == len(g) == len(w), "got": len(got), "want": len(want),
            "matched": matched}


def oracle_check(oracle_dir, docs_dir):
    """Runs each operator's DuckDB oracle over the same documents and
    compares it with the operator's result."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_dir}/documents.parquet/*.parquet')")
    sql = json.loads((Path(oracle_dir) / "oracle_sql.json").read_text())
    out = {}
    for name, q in sorted(sql.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{oracle_dir}/{name}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        want = con.execute(q)
        out[name] = compare(got_cols, got_rows, [d[0] for d in want.description],
                            want.fetchall())
    return out


def git_commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        raise SystemExit("perfbench: BENCHMARK.json is missing")
    spec = json.loads(spec_file.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")

    classpath = build()
    work = HERE / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        report = run_jvm(classpath, args, work, work / "report.json")
        failed = report["failed"]
        attempted = report["attempted"]
        e2e = dict(report["e2e"])
        if report.get("oracle_dir"):
            checks = oracle_check(report["oracle_dir"], work / "ops_curation" / "tables")
            report["oracle"] = checks
            if not all(c["ok"] for c in checks.values()):
                failed = attempted
            e2e["precision"] = (sum(c["matched"] for c in checks.values())
                                / max(1, sum(c["got"] for c in checks.values())))
            e2e["recall"] = (sum(c["matched"] for c in checks.values())
                             / max(1, sum(c["want"] for c in checks.values())))
        for why in report["failures"]:
            log(f"check failed: {why}")
        e2e["ok_ratio"] = 1.0 - failed / attempted
        report["failed"] = failed
        report["e2e"] = e2e
        report["env"]["mem_total_kb"] = mem_total_kb()
        report["env"]["git_commit"] = git_commit()
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = report["per_layer"] if args.trace else e2e
        missing = [m["name"] for m in wanted if m["name"] not in source]
        if missing:
            raise SystemExit(f"perfbench: metrics not measured: {missing}")
        metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
        out_dir = HERE / "out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
            json.dumps(report, indent=1, sort_keys=True))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
