#!/usr/bin/env python3
"""graft benchmark: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload interactive|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) and caches the classpath under perfbench/.work;
later runs rebuild only when a source file changed. Each run generates its
inputs from the fixture tables and the seed, runs the workload as a closed
loop with one client on local[nproc] in one JVM, checks the outputs
(DuckDB oracle via tools/check_oracle.py, or the curation funnel), and
prints every metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; untraced it carries
the end-to-end metrics, traced (--trace 1) the per-layer ones.

The fixture directory is the one TESTDATA.md documents, or GRAFT_TESTDATA.
Everything a run writes stays under perfbench/.work; the run's record (all
metrics) is kept in perfbench/.work/runs/ for compare.py.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

DEADLINE_S = 175          # a run must exit within 180 s
HEAP = "3g"
# Five waves at sf0.1: each timed wave probes a standing index of 1000+ docs
# that holds part of its near-duplicate families, and about 2% of its gated
# docs are turned away (dup_reject_frac). Much smaller waves meet too few
# near-duplicates there to load the dedup path.
CURATION_DOCS_PER_WAVE = 1000

# the jdk17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"),
              ("items_per_s", "1/s"), ("live_mb", "MB")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def preflight():
    """Checks the checkout and returns the fixture tables' directory:
    GRAFT_TESTDATA, else the one TESTDATA.md documents."""
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "tools/check_oracle.py", "TESTDATA.md"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a graft checkout (missing {', '.join(missing)})")
    testdata = os.environ.get("GRAFT_TESTDATA")
    if not testdata:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]+)/sf0\.001/?`", f.read())
        testdata = m.group(1) if m else ""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        if not os.path.isdir(os.path.join(testdata, sf)):
            fail(f"fixture tables not found at {testdata}/{sf}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    return testdata


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    bdir = os.path.join(WORK_ROOT, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def make_inputs(testdata, workload, seed, work):
    """Generates the workload's inputs; returns extra harness arguments."""
    if workload == "interactive":
        gen.sample(f"{testdata}/sf0.01", f"{work}/input", seed)
        gen.sample(f"{testdata}/sf0.001", f"{work}/small", seed)
        return ["--input", f"{work}/input", "--small", f"{work}/small",
                "--costs", os.path.join(HERE, "interactive_costs.csv")]
    gen.waves(f"{testdata}/sf0.1", f"{work}/input/waves", seed,
              CURATION_DOCS_PER_WAVE)
    return ["--input", f"{work}/input"]


def run_oracle(data, out, timeout):
    """tools/check_oracle.py, unmodified; returns {query: passed}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, out], cwd=ROOT, capture_output=True, text=True,
                       timeout=timeout)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\s*(\S)\s+(\S+?):", line)
        if m and m.group(1) in "✓✗~":
            verdict[m.group(2)] = m.group(1) != "✗"
    return verdict, r.stdout


def percentile(sorted_vals, p):
    """Linear-interpolated percentile of an ascending sample."""
    pos = (len(sorted_vals) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    if sorted_vals[hi] == float("inf"):
        return float("inf") if pos > lo or sorted_vals[lo] == float("inf") else sorted_vals[lo]
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def hd_median(sorted_vals, grid=4000):
    """Harrell-Davis median: a Beta((n+1)/2, (n+1)/2)-weighted mean of all
    order statistics. At a dozen samples its run-to-run spread is about
    two thirds of the plain median's; a failed op (+inf) makes it +inf."""
    n = len(sorted_vals)
    a = (n + 1) / 2.0
    pdf = [((i + 0.5) / grid * (1 - (i + 0.5) / grid)) ** (a - 1) for i in range(grid)]
    total = sum(pdf)
    cdf, acc = [0.0], 0.0
    for x in pdf:
        acc += x / total
        cdf.append(acc)
    weights = [cdf[(i + 1) * grid // n] - cdf[i * grid // n] for i in range(n)]
    if sorted_vals[-1] == float("inf"):
        return float("inf")
    return sum(w * v for w, v in zip(weights, sorted_vals))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_begin = time.time()

    testdata = preflight()
    classpath = build()
    t0 = time.time()  # set-up starts: input generation, JVM, warm-up
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK_ROOT, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra_args = make_inputs(testdata, a.workload, a.seed, work)
    t_gen = time.time()
    cmd = (["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed),
            "--t0-ms", repr(t0 * 1000.0)] + extra_args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - 25 - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out, see {log}", 1)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}", 1)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    t_jvm = time.time()

    # ---- correctness ---------------------------------------------------
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    verdict = {}
    for od in res["oracle_dirs"]:
        left = DEADLINE_S - (time.time() - t_begin)
        try:
            v, text = run_oracle(od["data"], od["out"], max(5, left - 3))
        except subprocess.TimeoutExpired:
            checks.append((f"oracle {od['out']}", False, "timed out"))
            continue
        verdict.update(v)
        expected = [n for n in os.listdir(od["out"])
                    if os.path.isdir(os.path.join(od["out"], n))]
        for n in expected:
            if n not in v:
                checks.append((f"oracle {n}", False, "no verdict"))
        for line in text.splitlines():
            if "✗" in line:
                checks.append(("oracle", False, line.strip()))
    ops = res["ops"]

    def op_ok(o):
        if a.workload == "interactive":
            return o["ok"] and verdict.get(o["name"], False)
        return o["ok"]

    oks = [op_ok(o) for o in ops]
    attempted, failed = len(ops), sum(1 for ok in oks if not ok)
    correct = attempted > 0 and failed == 0 and all(c[1] for c in checks)

    # ---- metrics -------------------------------------------------------
    lat = sorted(o["wall_ms"] if ok else float("inf") for o, ok in zip(ops, oks))
    # timed wall: first op start to last op end, gaps between ops included
    wall_s = (max((o["start_ms"] + o["wall_ms"] for o in ops), default=0.0) -
              min((o["start_ms"] for o in ops), default=0.0)) / 1000.0
    ex = res["extra"]
    e2e = {
        "setup_s": res["setup_ms"] / 1000.0,
        "latency_p50_ms": hd_median(lat) if lat else float("inf"),
        # completed queries (interactive) or docs drained (curation)
        "items_per_s": (sum(o["items"] for o, ok in zip(ops, oks) if ok) / wall_s
                        if wall_s > 0 else 0.0),
        "live_mb": res["live_mb"],
    }
    report = dict(e2e)
    report["latency_p90_ms"] = percentile(lat, 90) if lat else float("inf")
    report["peak_rss_mb"] = res["peak_rss_mb"]
    report["fail_frac"] = failed / attempted if attempted else 1.0
    report["samples"] = attempted
    if a.workload == "curation":
        # gated docs the dedup stages (bloom novelty, exact paragraphs,
        # near-dup index) turned away in the timed waves
        report["dup_reject_frac"] = (1.0 - ex["timed_admitted"] / ex["timed_gated"]
                                     if ex.get("timed_gated") else 0.0)
        report["space_amp"] = (ex["state_bytes"] / ex["input_text_bytes"]
                               if ex.get("input_text_bytes") else 0.0)
    layers = res.get("layers", {})

    units = dict(END_TO_END, fail_frac="ratio", samples="count", peak_rss_mb="MB",
                 latency_p90_ms="ms",
                 dup_reject_frac="ratio", space_amp="B/B")
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"ops={attempted} failed={failed} correct={correct}")
    print(f"  phases: build {t0 - t_begin:.1f} s, inputs {t_gen - t0:.1f} s, "
          f"harness {t_jvm - t_gen:.1f} s, oracle {time.time() - t_jvm:.1f} s")
    for k, v in report.items():
        print(f"  {k:<16} {v:>14.4f} {units[k]}")
    for name, ok, detail in checks:
        if not ok:
            print(f"  CHECK FAILED {name}: {detail}")
    for o, ok in zip(ops, oks):
        if not ok:
            print(f"  OP FAILED {o['name']}: {o['error']}")
    if a.trace:
        for k in sorted(layers):
            print(f"  {k:<34} {layers[k]:>14.4f}")

    def finite(v):
        return v if v != float("inf") else 1e12

    if a.trace:
        metrics = {k: {"value": finite(v), "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": finite(e2e[k]), "unit": u} for k, u in END_TO_END}

    runs = os.path.join(WORK_ROOT, "runs")
    os.makedirs(runs, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "correct": correct, "attempted": attempted,
              "failed": failed, "report": {k: finite(v) for k, v in report.items()},
              "layers": layers, "ops": ops}
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copyfile(os.path.join(work, "spans.jsonl"),
                        os.path.join(runs, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_unit(name):
    tail = name.split(".")[1]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_kb", "KB"),
                         ("ratio", "ratio"), ("slot_util", "ratio")):
        if tail.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
