"""Benchmark of the organizations ETL job: one run of one workload.

    python3 perfbench/run.py --workload rebuild|rebuild_mor --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark JVM from source with sbt (into the `target/` directories);
every run then generates its inputs from the seed, runs the benchmark JVM, checks
the outputs and prints one JSON result as the last line of standard output.
With --trace 1 it also writes spans and per-layer metrics to
`.bench_build/trace/` and reports the tracing overhead on standard error.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build"
# the store each workload rebuilds (first, and alone in an untraced run)
WORKLOADS = {"rebuild": "string", "rebuild_mor": "mor"}
BACKENDS = ("string", "mor", "dict")
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newest():
    files = [p for d in (ROOT / "src/main", HERE / "src") for p in d.rglob("*") if p.is_file()]
    files += [ROOT / "build.sbt", HERE / "build.sbt"]
    return max(p.stat().st_mtime for p in files)


def build():
    """Compile the engine and the benchmark JVM with sbt once per source change;
    returns the runtime classpath."""
    cp_file = BUILD / "classpath.txt"
    if cp_file.exists() and cp_file.stat().st_mtime > sources_newest():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (exit {p.returncode}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip() + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp, args, work):
    java = Path(os.environ["JAVA_HOME"]) / "bin/java" if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [str(java), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(work / "jvm.log", "w") as out:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        p = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT_S, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        tail = (work / "jvm.log").read_text().splitlines()[-40:]
        raise SystemExit("benchmark JVM failed (exit %d):\n%s" % (p.returncode, "\n".join(tail)))


def oracle_check(rec):
    """The full run's quads about the fixture subjects against the engine's own
    `rdf_mapping_pipeline` oracle (the fixture-only job's output), run in
    DuckDB. Returns a failure or None."""
    import duckdb
    norm = lambda rows: sorted(tuple("\0" if v is None else str(v) for v in r) for r in rows)
    want = norm(duckdb.connect().execute(rec["oracle_sql"]).fetchall())
    subjects = {r[1] for r in want}
    got = norm(r for r in rec["target"] if r[1] in subjects)
    if got != want:
        return (f"the quads about the fixture documents differ from the "
                f"rdf_mapping_pipeline oracle ({len(got)} quads vs {len(want)})")
    return None


def e2e_metrics(rec, t_start):
    s, b = rec["samples"], WORKLOADS[rec["workload"]]
    return {
        "setup_s": {"value": rec["ready_epoch_ms"] / 1e3 - t_start, "unit": "s"},
        "latency_p50_ms": {"value": stats.median(s["op_ms"]), "unit": "ms"},
        # quads mapped into the target graph per second of the rebuild
        "throughput_per_s": {"value": sum(s["target_quads"]) / sum(s[f"rebuild.{b}.total_s"]),
                             "unit": "1/s"},
        "cpu_ms_per_op": {"value": stats.median(s[f"rebuild.{b}.cpu_s"]) * 1e3, "unit": "ms"},
    }


def workload_detail(rec):
    """The workload's own metrics, by the names of perfbench/README.md."""
    s, v = rec["samples"], rec["values"]
    out = {}
    for b in BACKENDS:
        if f"rebuild.{b}.total_s" not in s:
            continue
        out[f"rebuild_{b}_s"] = stats.median(s[f"rebuild.{b}.total_s"])
        for ph in ("clear", "ingest", "map", "provenance", "finish"):
            out[f"rebuild.{b}.{ph}_s"] = stats.median(s[f"rebuild.{b}.{ph}_s"])
    if not rec["trace"]:
        return out
    # traced run: values measured by the benchmark JVM and span-derived numbers
    out.update({k: x for k, x in v.items() if "." in k and not k.startswith("setup.")})
    spans, counters = rec["spans"], rec["counters"]
    for b in BACKENDS:
        root = next((x for x in spans if x["name"] == f"rebuild.{b}.map"), None)
        if root is None:
            continue
        sub = stats.subtree(spans, root["id"]) + [root]
        for c in stats.COUNTERS:
            out[f"rebuild.{b}.map.{c}"] = stats.counter_sum(counters, sub, c)
        out[f"rebuild.{b}.map.gc_s"] = root["gc_ms"] / 1e3
        out[f"rebuild.{b}.map.codegen_classes"] = root["codegen"]
        if v.get(f"rebuild.{b}.staging_quads"):
            out[f"rebuild.{b}.ingest_quads_per_s"] = (v[f"rebuild.{b}.staging_quads"] /
                                                      out[f"rebuild.{b}.ingest_s"])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description="organizations ETL benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run measures one rebuild pass, however long it takes (README.md)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src/main/scala").is_dir():
        raise SystemExit("perfbench: run from a checkout of the engine (no build.sbt / src)")
    cp = build()
    work = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t_start = time.time()
        gen.write(work / "input", a.seed)
        out = work / "record.json"
        run_jvm(cp, ["--workload", a.workload, "--input", str(work / "input"),
                     "--work", str(work), "--out", str(out), "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
                     "--seed", str(a.seed)], work)
        rec = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures = list(rec["failures"])
    attempted, failed = rec["attempted"], rec["failed"]
    attempted += 1
    bad = oracle_check(rec)
    if bad:
        failures.append(bad)
        failed += 1
    for f in failures[:10]:
        log(f"FAILED: {f}")
    detail = workload_detail(rec)
    last = BUILD / "last" / f"{a.workload}.json"
    last.parent.mkdir(parents=True, exist_ok=True)
    if a.trace:
        metrics = {k: {"value": x, "unit": "s" if k.endswith("_s") else
                       "B" if k.endswith("_bytes") else "count"}
                   for k, x in stats.layer_metrics(rec["spans"], rec["counters"],
                                                   rec["jvm"]).items()}
        # the heap grows differently from run to run: not steady enough for a bound
        metrics["jvm.peak_rss_mb"] = {"value": rec["peak_rss_mb"], "unit": "MB"}
        base = json.loads(last.read_text()) if last.exists() else {}
        overhead = {k: detail[k] - x for k, x in base.items()
                    if isinstance(x, (int, float)) and isinstance(detail.get(k), (int, float))}
        dump = BUILD / "trace" / f"{a.workload}-seed{a.seed}.json"
        dump.parent.mkdir(parents=True, exist_ok=True)
        dump.write_text(json.dumps({"per_layer": {k: m["value"] for k, m in metrics.items()},
                                    "workload": detail, "overhead_vs_untraced": overhead,
                                    "spans": rec["spans"], "counters": rec["counters"]},
                                   indent=1, sort_keys=True))
        log(f"trace written to {dump.relative_to(ROOT)}")
        for k, x in sorted(overhead.items()):
            log(f"tracing overhead {k}: {x:+.4g}")
    else:
        metrics = e2e_metrics(rec, t_start)
        last.write_text(json.dumps(detail, sort_keys=True))
    for k, x in sorted(detail.items()):
        if x is not None:
            log(f"{k} = {x:.6g}" if isinstance(x, float) else f"{k} = {x}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
