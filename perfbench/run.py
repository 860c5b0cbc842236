#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), generates the
seeded inputs under .bench_build/data, runs one JVM (perfbench.Main) and
prints every metric by name and unit. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json when --trace 0, its per-layer metrics when --trace 1. The full
run record is kept in .bench_build/results/ for perfbench/compare.py.

Workloads: wiki_dump, engine_ops (see README.md).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["wiki_dump", "engine_ops"]
TABLE_SEED = 42      # the tables are fixed; goldens.json is computed on them
TABLE_SF = "sf0.01"  # row counts of the testdata set of that name
WIKI = {"files": 4, "pages": 800}
WIKI_WARM = {"files": 2, "pages": 2400}  # the warm-up op's dump
WARM_SEED = 1_000_000  # the warm-up dump is the same for every seed
JVM_TIMEOUT_S = 170
# A fixed heap and young generation keep the resident set, and so
# peak_rss_mb, from following the collector's resizing decisions.
JAVA = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m",
        "-Xss8m", "-XX:-UsePerfData"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


CHILDREN = []


def _terminate(signum, _frame):
    """Stops the JVM before exiting, so no process outlives the run."""
    for p in list(CHILDREN):
        p.kill()
        p.wait()
    sys.exit(128 + signum)


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def tables_dir():
    import gen_tables
    d = os.path.join(OUT, "data", f"tables-{TABLE_SEED}-{TABLE_SF}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d, TABLE_SEED, TABLE_SF)
        open(os.path.join(d, "_done"), "w").close()
    return d


def wiki_dir(seed):
    import gen_wiki
    warm = os.path.join(OUT, "data", f"wiki-warm-{WIKI_WARM['pages']}")
    if not os.path.exists(os.path.join(warm, "_done")):
        # the warm-up dump: same generator, a fixed seed, three times the
        # pages, so the JIT has compiled the pipeline before timing starts
        shutil.rmtree(warm, ignore_errors=True)
        gen_wiki.generate(warm, WARM_SEED, **WIKI_WARM)
        open(os.path.join(warm, "_done"), "w").close()
    d = os.path.join(OUT, "data", f"wiki-{seed}-{WIKI['pages']}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_wiki.generate(d, seed, **WIKI)
        os.makedirs(os.path.join(d, "warm"))
        for f in os.listdir(os.path.join(warm, "dump")):
            os.link(os.path.join(warm, "dump", f), os.path.join(d, "warm", f))
        open(os.path.join(d, "_done"), "w").close()
    return d


def mat_root():
    """The absolute directory graft's `Tables.matDir` writes its
    per-session fixtures under, read from its source."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "Tables.scala")
    m = re.search(r'def matDir[\s\S]*?s"(/[^"$]*?)/\$\{kind\}', open(src).read())
    if not m:
        fail("cannot find Tables.matDir's directory in Tables.scala")
    return m.group(1)


def run_jvm(cmd, log):
    """Runs the JVM. graft writes its fixtures under the absolute
    `mat_root()`; the entries the run adds there are measured and then
    deleted, with any of its parent directories the run created.
    Returns (exit code, bytes of the added entries)."""
    target = mat_root()
    existing = target
    while not os.path.isdir(existing):
        existing = os.path.dirname(existing)
    before = set(os.listdir(target)) if existing == target else set()
    p = None
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
            CHILDREN.append(p)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                rc = p.wait()
    finally:
        if p is not None:
            if p.poll() is None:
                p.kill()
                p.wait()
            CHILDREN.remove(p)
        added = (set(os.listdir(target)) - before) if os.path.isdir(target) else set()
        size = 0
        for e in added:
            path = os.path.join(target, e)
            for d, _, fs in os.walk(path):
                size += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
            shutil.rmtree(path, ignore_errors=True)
        d = target
        while d != existing:
            try:
                os.rmdir(d)
            except OSError:
                break
            d = os.path.dirname(d)
    return rc, size


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", help="op name that must throw (self-check)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to perfbench/")
    sys.path.insert(0, BENCH)
    import build
    import metrics

    os.makedirs(OUT, exist_ok=True)
    classes, jars = build.build()
    data = wiki_dir(a.seed) if a.workload == "wiki_dump" else tables_dir()

    tag = f"{a.workload}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec_file = os.path.join(work, "record.json")
    cpus = os.cpu_count() or 1
    cmd = (JAVA + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                   "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--work", work, "--out", rec_file,
              "--goldens", os.path.join(BENCH, "goldens.json"),
              "--cpus", str(cpus)])
    if a.inject_failure:
        cmd += ["--inject-failure", a.inject_failure]
    log = os.path.join(OUT, f"jvm-{a.workload}.log")
    rc, mat_bytes = run_jvm(cmd, log)
    if rc != 0 or not os.path.exists(rec_file):
        sys.stderr.write(open(log, errors="replace").read()[-3000:])
        fail(f"JVM exited with {rc}", 1)
    rec = json.load(open(rec_file))
    if a.workload == "wiki_dump":
        rec["facts"]["dump_bytes"] = json.load(
            open(os.path.join(data, "expected.json")))["bytes"]
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(rec["ops"])
    failed = sum(o["err"] is not None for o in rec["ops"])
    for o in rec["ops"]:
        if o["err"]:
            print(f"FAILED {o['name']} (pass {o['pass']}): {o['err']}")
    e2e = metrics.end_to_end(rec)
    print(f"workload {a.workload} seed {a.seed} cpus {cpus} trace {a.trace}: "
          f"{len(rec['pass_s'])} passes, {attempted} ops, {failed} failed")
    for k, (v, u) in list(e2e.items()) + list(metrics.extras(rec).items()):
        print(f"  {k:<22} {v:12.4f} {u}")
    relabelled = rec["facts"].get("feed_relabelled_updates", 0)
    if relabelled:
        print(f"NOTE changeFeedStep gave {relabelled} merge-on-read updates as "
              "delete + insert, not update_preimage + update_postimage")
    if a.trace:
        values = metrics.per_layer(rec, cpus, mat_bytes)
        out = {k: {"value": v, "unit": metrics.unit(k)} for k, v in values.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rec["metrics"] = out
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{a.workload}-t{a.trace}-s{a.seed}-"
                           f"{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
