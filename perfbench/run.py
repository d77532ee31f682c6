#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload {pipeline,queries}
                           --seed N --seconds S --trace {0,1}

It builds the harness and the library from the checkout's sources with
sbt (once per source change), generates the workload's inputs from the
seed, runs the harness in one JVM at local[nproc] with one client thread
in a closed loop, checks every output, and prints as its last line one
JSON object: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end ones with --trace 0, per-layer ones with
--trace 1). See perfbench/NOTES.md for what each metric measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("pipeline", "queries")
# Input sizes, fixed so that every run of a workload does the same work.
PIPELINE_CASES = 24
TABLES_SF = 0.01
SETUP_REPEATS = 3
DEADLINE_S = 170  # a run must end within 180 s once the harness is built
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_mtime(root):
    paths = [root / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (root / "project", root / "src" / "main", HERE / "src" / "main"):
        paths += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    return max(p.stat().st_mtime for p in paths if p.exists())


def build(root, work):
    """Compiles the library and the harness; returns the runtime classpath."""
    cp_file = work / "classpath.txt"
    if cp_file.exists() and cp_file.stat().st_mtime > sources_mtime(root):
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline: resolve only from the pre-warmed caches that the repository
    # list in ~/.sbt/repositories names
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    sys.stderr.write(r.stderr[-3000:])
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and "[" not in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:])
        die(f"sbt build failed (exit {r.returncode})")
    cp_file.write_text(lines[-1].strip() + "\n")
    return lines[-1].strip()


def tree_hash(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def generate(workload, seed, data):
    """Generates the inputs SETUP_REPEATS times; returns the median time
    and whether every repeat wrote byte-identical files."""
    times, hashes = [], set()
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "pipeline":
            gen_corpus.generate(seed, PIPELINE_CASES, data)
        else:
            gen_tables.generate(seed, TABLES_SF, data)
        times.append(time.perf_counter() - t0)
        hashes.add(tree_hash(data))
    return statistics.median(times), len(hashes) == 1


def run_jvm(cp, workload, data, out, seconds, trace, work, deadline):
    result = out / "result.json"
    for d in ("tmp", "spark-local", "warehouse", "cwd"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dderby.stream.error.file={work / 'derby.log'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main", workload, str(data), str(out), str(seconds),
              str(trace), str(result)])
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_PROJECTOR", "GRAFT_CLUSTERER", "SPARK_GRAFT_EXTRA_CONF",
                        "SPARK_MASTER")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    log = open(work / f"jvm-{workload}.log", "w")
    p = subprocess.Popen(cmd, cwd=work / "cwd", env=env, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{workload} run exceeded its deadline; see {log.name}", 3)
    finally:
        log.close()
    if p.returncode != 0 or not result.exists():
        die(f"harness exited with {p.returncode}; see {log.name}", 3)
    return json.loads(result.read_text())


def oracle_check(root, data, oracle_dir):
    """Each dumped result against its DuckDB oracle SQL, with
    scripts/selfcheck.py's normalization. Returns the failing names."""
    import duckdb
    sys.path.insert(0, str(root / "scripts"))
    from selfcheck import TABLES, norm_rows, values_match
    if not (oracle_dir / "oracle_sql.json").is_file():
        return ["oracle_sql.json"]
    sqls = json.loads((oracle_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = Path(data, f"{t}.parquet")
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in sorted(sqls.items()):
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{oracle_dir / name}/*.parquet')")
            o = con.sql(sql)
            s_cols, s_rows = norm_rows(s.columns, s.fetchall())
            o_cols, o_rows = norm_rows(o.columns, o.fetchall())
            ok = (s_cols == o_cols and len(s_rows) == len(o_rows) and all(
                sr == orr or all(values_match(a, b) for a, b in zip(sr, orr))
                for sr, orr in zip(s_rows, o_rows)))
        except Exception as e:  # an unreadable dump or a failing oracle is a mismatch
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        die("run from the repository root: no build.sbt or src/main/scala here")
    spec_path = root / "BENCHMARK.json"
    if not spec_path.is_file():
        die("no BENCHMARK.json here")
    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    work = HERE / ".work"
    work.mkdir(exist_ok=True)
    t0 = time.perf_counter()
    cp = build(root, work)
    print(f"perfbench: build {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    deadline = time.monotonic() + DEADLINE_S

    data = work / "data" / a.workload
    gen_s, deterministic = generate(a.workload, a.seed, data)
    out = work / "out" / a.workload
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.perf_counter()
    r = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, work, deadline)
    print(f"perfbench: harness {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    correct, failed = r["correct"], r["failed"]
    for note in r["notes"]:
        print(f"perfbench: {note}", file=sys.stderr)
    if not deterministic:
        print("perfbench: the same seed generated different inputs", file=sys.stderr)
        correct = False
    if a.workload != "pipeline":
        t0 = time.perf_counter()
        bad = oracle_check(root, data, out / "oracle")
        print(f"perfbench: oracle check {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        failed += len(bad)
        correct = correct and not bad
    metrics = dict(r["metrics"])
    if not a.trace:
        metrics["setup_s"] = gen_s + r["setup_s"]
    missing = sorted(set(units) - set(metrics))
    extra = sorted(set(metrics) - set(units))
    if missing or extra:
        print(f"perfbench: metrics missing {missing}, not in BENCHMARK.json {extra}",
              file=sys.stderr)
        correct = False
    if (out / "spans.jsonl").exists():
        shutil.copy(out / "spans.jsonl", work / f"spans-{a.workload}.jsonl")
    for d in (out, work / "tmp", work / "spark-local"):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct and failed == 0),
        "attempted": int(r["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics},
    }))


if __name__ == "__main__":
    main()
