#!/usr/bin/env python3
"""frapspark benchmark: one run of one workload.

Run from the repository root:

    python3 perfbench/run.py --workload linkgraph --seed 1 --seconds 10 --trace 0

Workloads: linkgraph, loops_frap_cf (see BENCHMARK.json). The run
builds the program (src/main/scala) and the benchmark (perfbench/src) into
$CARGO_TARGET_DIR, default .bench_build, when their sources changed. Then one
JVM at local[4] generates the seeded input, times one cold run of the job and
checks its outputs; --seconds is accepted for the command interface only. A report goes to stdout, and its last line
is the JSON result: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. --smoke uses small inputs, for the benchmark's own tests.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = ["linkgraph", "loops_frap_cf"]
ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
RUN_LIMIT_S = 170


def spark_home():
    """$SPARK_HOME, else the Spark distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (pathlib.Path(d) / "spark-submit").resolve().parent.parent
        if (home / "jars").is_dir():
            return home
    sys.exit("perfbench: set SPARK_HOME to a Spark distribution")


SPARK_HOME = spark_home()
SPARK_JARS = SPARK_HOME / "jars"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def sources_digest():
    h = hashlib.sha256()
    for d in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        for p in sorted(d.rglob("*.scala")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles when the sources differ from the last build; returns classes dir."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("perfbench: no program sources at src/main/scala")
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    stamp = out / "sources.sha256"
    digest = sources_digest()
    if not stamp.exists() or stamp.read_text() != digest:
        stamp.unlink(missing_ok=True)
        subprocess.run(["bash", str(BENCH / "build.sh"), str(out)], check=True,
                       stdout=sys.stderr, timeout=800,
                       env=dict(os.environ, SPARK_HOME=str(SPARK_HOME)))
        stamp.write_text(digest)
    return out / "classes"


def run_jvm(classes, work, args):
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]", SPARK_GRAFT_CPUS="4",
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_MASTER", None)
    # a heap limit with room to spare: at Spark's default 1 GB the collector
    # runs often enough to add seconds of noise to a cold job
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--smoke", "1" if args.smoke else "0",
    ]
    with open(work / "jvm.log", "w") as log:
        try:
            code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  env=env, timeout=RUN_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    result = work / "result.json"
    if code != 0 or not result.exists():
        tail = (work / "jvm.log").read_text().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + f"\nperfbench: JVM failed ({code})\n")
        return None
    return json.loads(result.read_text())


def read_jsonl(path):
    return [json.loads(line) for line in path.read_text().splitlines() if line]


def report(res, args):
    checks = res["checks"]
    failed = [c for c in checks if not c["ok"]]
    timed = [r for r in res["reps"] if r["kind"] == "timed"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"load1={res['load1'][0]:.2f}->{res['load1'][1]:.2f}")
    for c in failed:
        print(f"  CHECK FAILED rep={c['rep']} {c['name']}: {c['detail']}")
    if checks:
        last = max(c["rep"] for c in checks)
        for c in checks:
            if c["rep"] == last:
                print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    print(f"  peak RSS of the JVM {res['peak_rss_mb']:.1f} MB")
    print(f"  ops_failed_frac {len(failed) / max(1, len(checks)):.4f} "
          f"({len(failed)}/{len(checks)} checks)")
    named = [("pagerank.eps", "edges/s"), ("pagerank.rounds", "supersteps"),
             ("frap.monitor.graphs_per_s", "graphs/s"),
             ("cf.svdpp_train.sweep_s", "s/sweep")]
    for r in timed:
        named += [(k, "s") for k in sorted(r["stats"]) if k.endswith(".job_s")]
        for name, unit in named:
            if name in r["stats"]:
                print(f"  {name} {r['stats'][name]:.6g} {unit}")
    return len(checks), len(failed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its JVM: subprocess.run kills the child
    # when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    work = ROOT / ".bench_work" / f"run-{os.getpid()}-{int(time.time())}"
    try:
        res = run_jvm(classes, work, args)
        if res is None:
            sys.exit(1)
        attempted, failed = report(res, args)
        if args.trace:
            trace_dir = ROOT / ".bench_work" / "traces" / f"{args.workload}-seed{args.seed}"
            shutil.rmtree(trace_dir, ignore_errors=True)
            trace_dir.mkdir(parents=True)
            for name in ("result.json", "spans.jsonl", "tasks.jsonl", "jobs.jsonl"):
                shutil.copy(work / name, trace_dir / name)
            values = metrics.layer_metrics(res, read_jsonl(work / "spans.jsonl"),
                                           read_jsonl(work / "tasks.jsonl"),
                                           read_jsonl(work / "jobs.jsonl"))
            print(f"  span self-time coverage of traced job_s: {values['coverage']:.3f}")
            units = metrics.per_layer_names()
        else:
            values = metrics.end_to_end(res)
            units = metrics.END_TO_END
        for name, unit in units:
            print(f"  {name} {values[name]:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0 and attempted > 0,
            "attempted": max(attempted, 1),
            "failed": failed if attempted else 1,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in units},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
