#!/usr/bin/env python3
"""Build and run one benchmark workload; print the result as the last stdout line.

    python3 perfbench/run.py --workload http_push --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
shipped in $SPARK_HOME/jars (else beside spark-submit on PATH) into .bench_build/;
later runs reuse the classes while the sources are unchanged. The result is
also written to .bench_build/results/<workload>-s<seed>-t<trace>.json, and a
traced run leaves its spans and a self-time summary in
.bench_build/runs/<workload>-s<seed>-t1/.

The exit code is 0 only when the run completed and every output checked out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(name, sources, classpath, jars):
    """Compile `sources` into .bench_build/classes/<name> unless already built from them."""
    out = BUILD / "classes" / name
    key = stamp(sources, classpath)
    if (out / "STAMP").is_file() and (out / "STAMP").read_text() == key:
        return out
    tmp = BUILD / "classes" / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = BUILD / "classes" / f"{name}.args"
    args.write_text("\n".join(str(s) for s in sources) + "\n")
    print(f"perfbench: compiling {len(sources)} {name} sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}",
                        "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
                        "-d", str(tmp), "-cp", classpath, f"@{args}"], cwd=ROOT)
    if r.returncode != 0:
        die(f"compiling {name} failed")
    (tmp / "STAMP").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    print(f"perfbench: compiled {name} in {time.time() - t0:.0f} s", file=sys.stderr)
    return out


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark install whose bin/ is on PATH; it must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for h in homes:
        if h and any((Path(h) / "jars").glob("scala-compiler-*.jar")):
            return Path(h) / "jars"
    die("no Spark jars with the Scala compiler found; set SPARK_HOME")


def build():
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main_src:
        die("no program sources under src/main/scala; run from the repository root")
    jars = spark_jars()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    main = scalac("main", main_src, f"{jars}/*", jars)
    bench = scalac("bench", sorted((HERE / "src").glob("*.scala")), f"{main}:{jars}/*", jars)
    return f"{main}:{bench}:{jars}/*"


def span_summary(run_dir):
    """Merge the load process's and every instance's spans; per span name: count, total and self time (ms)."""
    spans = []
    for f in [run_dir / "spans_load.jsonl"] + sorted(run_dir.glob("sut*/spans_sut.jsonl")):
        spans += [json.loads(l) for l in f.read_text().splitlines() if l]
    with open(run_dir / "spans.jsonl", "w") as w:
        for s in spans:
            w.write(json.dumps(s) + "\n")
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    summary = {}
    for s in spans:
        start, end = s["start_us"], s["end_us"]
        covered, cur = 0, start
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur), min(b, end)
            if b > a:
                covered += b - a
                cur = b
        e = summary.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += (end - start) / 1000
        e["self_ms"] += (end - start - covered) / 1000
    (run_dir / "spans_summary.json").write_text(json.dumps(summary, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="", choices=("", "drop", "dup", "alter", "status", "golden"),
                    help="break one output on purpose (self-test)")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    cp = build()
    t_start = time.time()

    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    tmp = BUILD / "tmp"
    sut_cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Xmx2g", "-cp", cp])
    (run_dir / "sut.cmd").write_text("\n".join(sut_cmd) + "\n")
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Load",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--run-dir", str(run_dir), "--sut-cmd", str(run_dir / "sut.cmd"),
           "--golden", str(HERE / "golden" / "sensision.txt")]
    if a.inject:
        cmd += ["--inject", a.inject]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # nothing of the run may outlive it
        except ProcessLookupError:
            pass
    for d in run_dir.glob("sut*/spool"):
        shutil.rmtree(d, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        die(f"load process exited with {p.returncode} (logs in {run_dir})")
    result = json.loads(lines[-1])

    # units from BENCHMARK.json; a layer this workload does not exercise reads 0
    spec_metrics = spec["per_layer" if a.trace else "end_to_end"]
    unknown = set(result["metrics"]) - {m["name"] for m in spec_metrics}
    missing = {m["name"] for m in spec_metrics} - set(result["metrics"])
    if unknown or (missing and not a.trace):
        die(f"metrics {sorted(unknown | missing)} differ from BENCHMARK.json")
    result["metrics"] = {m["name"]: {"value": result["metrics"].get(m["name"], 0), "unit": m["unit"]}
                         for m in spec_metrics}
    if a.trace:
        span_summary(run_dir)
    line = json.dumps(result, separators=(",", ":"))
    (BUILD / "results").mkdir(exist_ok=True)
    (BUILD / "results" / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(line + "\n")
    print(f"perfbench: {a.workload} seed {a.seed} ran {time.time() - t_start:.1f} s", file=sys.stderr)
    print(line, flush=True)
    sys.exit(0 if result["correct"] else 2)


if __name__ == "__main__":
    main()
