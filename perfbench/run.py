#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds graft and the benchmark runner
from source (perfbench/build.py), generates the workload's inputs from
the seed (perfbench/gen.py, outside any timed region), runs the runner
(perfbench/src/graftbench) in one JVM on local[nproc], checks every
output, prints a readable report and, as the last line, one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones.

Workloads: etl_star, curation_corpus, query_suite (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 175
QUERY_SF = 0.01
CORPUS_DOCS = 1500
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]
# A fixed-size heap: with a growing one, GC ergonomics differed from run
# to run and moved throughput by 10-15 %. The live set is about 100 MB.
HEAP = "3g"


def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; other seeds' are removed.
    The directory name carries a digest of the generator and its sizes,
    so a changed generator never reuses stale inputs."""
    base = os.path.join(ROOT, ".bench_data")
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr((QUERY_SF, CORPUS_DOCS)).encode()).hexdigest()[:12]
    d = os.path.join(base, f"{workload}-{seed}-{key}")
    if os.path.isdir(base):
        for old in os.listdir(base):
            if old.startswith(workload + "-") and old != os.path.basename(d):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        if workload == "etl_star":
            gen.etl_star(d, seed)
        elif workload == "curation_corpus":
            gen.corpus(d, seed, CORPUS_DOCS)
        else:
            gen.tables(d, seed, QUERY_SF)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    classpath = build.build()
    phases = {"build": time.time() - t_start}
    data = inputs(a.workload, a.seed)
    phases["inputs"] = time.time() - t_start - sum(phases.values())
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cpus = os.cpu_count() or 4

    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    env.pop("OMP_NUM_THREADS", None)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}/tmp"] + JAVA_OPTS + [
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
        "--cpus", str(cpus)]
    log_path = os.path.join(work, "runner.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark: runner exceeded its time limit")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark: runner failed (exit {rc})")
    with open(out) as f:
        r = json.load(f)
    phases["runner"] = time.time() - t_start - sum(phases.values())

    attempted, failed, failures = r["attempted"], r["failed"], list(r["failures"])
    if a.workload == "query_suite":
        import oracle
        verdicts = oracle.check(data, os.path.join(work, "query_out"))
        for q, why in sorted(verdicts.items()):
            if why is not None:
                failures.append(f"{q}: {why}")
                failed += r["extra"]["executions"].get(q, 0)
        failed = min(failed, attempted)
        phases["oracle"] = time.time() - t_start - sum(phases.values())

    if a.trace:
        got = r["layer"]
        report = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u in metrics.PER_LAYER}
        unknown = sorted(set(got) - set(report))
        if unknown:
            failures.append(f"unlisted per-layer metrics: {unknown}")
    else:
        report = {n: r["e2e"][n] for n, _ in metrics.END_TO_END}

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  ops {r['ops']}  "
          f"wall {' '.join(f'{k} {v:.1f}s' for k, v in phases.items())}")
    print(f"  {json.dumps(r['extra'])[:1500]}")
    if not a.trace:
        for alias, name in metrics.ALIASES[a.workload]:
            m = report[name]
            print(f"  {alias:<24} {m['value']:>14.6g} {m['unit']}   ({name})")
        print(f"  {'failed_ratio':<24} {failed / max(1, attempted):>14.6g} ratio"
              f"   (failed {failed} of {attempted} operations)")
    for f in failures:
        print(f"  FAILED CHECK: {f}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted,
                      "failed": failed, "metrics": report}))


if __name__ == "__main__":
    main()
