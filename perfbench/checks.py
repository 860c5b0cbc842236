#!/usr/bin/env python3
"""The benchmark's own checks.

  1. generator determinism: the same seed gives identical dump bytes,
     expected-CSV digest and table files; another seed gives another dump;
  2. the tail-percentile rule: the reported percentile always leaves at
     least ten samples above it;
  3. failure injection: an op forced to throw raises the error count, makes
     the run incorrect and adds no latency sample;
  4. span accounting: the per-span counters of a traced run plus the
     unattributed remainder sum to the listener's totals, and no span's
     self time exceeds its duration.

Checks 3 and 4 run the benchmark (wiki_dump, a few seconds each).
Usage (from the checkout root): python3 perfbench/checks.py
"""
import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_tables  # noqa: E402
import gen_wiki  # noqa: E402
import metrics  # noqa: E402

FAILURES = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def same_tree(a, b):
    fa = sorted(os.path.relpath(p, a) for p in glob.glob(f"{a}/**/*", recursive=True))
    fb = sorted(os.path.relpath(p, b) for p in glob.glob(f"{b}/**/*", recursive=True))
    return fa == fb and all(
        os.path.isdir(os.path.join(a, f)) or
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in fa)


def determinism(tmp):
    e1 = gen_wiki.generate(f"{tmp}/w1", 7, files=2, pages=80)
    e2 = gen_wiki.generate(f"{tmp}/w2", 7, files=2, pages=80)
    e3 = gen_wiki.generate(f"{tmp}/w3", 8, files=2, pages=80)
    check(e1 == e2 and same_tree(f"{tmp}/w1", f"{tmp}/w2"),
          "same seed: identical dump bytes and CSV digest")
    check(e1["sha256"] != e3["sha256"], "another seed: another CSV digest")
    rows = gen_wiki.expected_counts([
        ("A", "[[x|y]] [[A|B|C]] [[pipe|]] [[Roma, Italia]] [[Roma#Storia]] "
              "[[  spaced  ]] [[]] [[a\nb]] [[Aiuto:D]] [[File:x.jpg|t|[[y]] c]] "
              "[[Genesis: storia]] [[s:Il|C]] [[Category:F]] [[musica]] "
              "[[musica]] [[A]]"),
        ("B", "[[musica]]")])
    check(rows == [("A", 1), ("Roma Italia", 1), ("Roma#Storia", 1),
                   ("musica", 2), ("pipe", 1), ("spaced", 1), ("x", 1)],
          "replica rules: FIXTURES.md section A rows")
    gen_tables.generate(f"{tmp}/t1", 42, "sf0.001")
    gen_tables.generate(f"{tmp}/t2", 42, "sf0.001")
    check(same_tree(f"{tmp}/t1", f"{tmp}/t2"), "same seed: identical table files")


def tail_rule():
    good = True
    for n in range(0, 400):
        xs = [float(i) for i in range(n)]
        v, p, got_n = metrics.tail(xs)
        above = sum(x > v for x in xs)
        good &= got_n == n and (above >= 10 if p < 100 else n < 20)
    check(good, "tail percentile leaves >= 10 samples above it (n = 0..399)")
    check(metrics.tail([float(i) for i in range(1, 101)])[1] == 90.0,
          "100 samples report p90")


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


def latest_record():
    fs = glob.glob(os.path.join(ROOT, ".bench_build", "results", "*.json"))
    return json.load(open(max(fs, key=os.path.getmtime)))


def injection():
    rc, out = bench("--workload", "wiki_dump", "--seed", "3", "--seconds", "2",
                    "--trace", "0", "--inject-failure", "wiki_pipeline")
    rec = latest_record()
    check(rc == 0 and out.get("correct") is False
          and out.get("failed") == out.get("attempted") > 0,
          "injected failure: every attempted op counted failed, run incorrect")
    check(not metrics.warm_ok(rec) and out["metrics"]["op_p50_ms"]["value"] == 0.0,
          "injected failure: no latency sample from a failed op")
    check(set(out["metrics"]) == {m["name"] for m in json.load(
        open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]},
          "untraced run prints exactly the end-to-end metrics of BENCHMARK.json")


def span_sums():
    rc, out = bench("--workload", "wiki_dump", "--seed", "3", "--seconds", "2",
                    "--trace", "1")
    rec = latest_record()
    check(rc == 0 and out.get("correct") is True, "traced run is correct")
    t = rec["trace"]
    ok = True
    for k in t["totals"]:
        agg = max if k == "peak_exec_mem_bytes" else sum
        parts = [s["counters"][k] for s in t["spans"]] + [t["unattributed"][k]]
        ok &= agg(parts) == t["totals"][k]
    check(ok, "span counters + unattributed == listener totals")
    check(all(0 <= s["self_ns"] <= s["end_ns"] - s["start_ns"] for s in t["spans"]),
          "self time within span duration")
    check(set(out["metrics"]) == {m["name"] for m in json.load(
        open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]},
          "traced run prints exactly the per-layer metrics of BENCHMARK.json")


if __name__ == "__main__":
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build")
                           if os.path.isdir(os.path.join(ROOT, ".bench_build")) else None)
    try:
        determinism(tmp)
        tail_rule()
        injection()
        span_sums()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if FAILURES else 0)
