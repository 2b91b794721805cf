#!/usr/bin/env python3
"""graft benchmark: one command runs one workload with one seed.

    python3 perfbench/run.py --workload batch-short --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships in Spark's jars, and writes the input tables;
both are cached under `.bench_build/` and rebuilt when their sources
change. Every metric is printed by name with its unit, then the
correctness verdict, and the last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics.

Other modes: `--self-test` runs the harness's own tests; `--cores 1`
runs on `local[1]` (the single-threaded baseline); `--select` and
`--record-golden` re-derive the frozen gate lists and golden digests
(see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    files = []
    for root in (ENGINE_SRC, HARNESS_SRC):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def data_dir(sf):
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(BUILD, "data", f"sf{sf}-{stamp}")
    if not os.path.exists(os.path.join(d, "DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(sf, tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return d


def run_jvm(classes, jars, work, jargs, heap, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dderby.system.home=" + work,
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
        "--work", work, "--out", out] + jargs
    log = os.path.join(work, "jvm.log")
    # every file Spark writes stays in the work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def pct_metric(samples, q):
    return M.percentile(samples, q), M.count(samples)


def end_to_end(raw):
    s, w = raw["samples"], raw["weighted"]
    return {
        "setup_s": (M.median(s["setup_s"]), len(s["setup_s"])),
        "pass_s": (M.median(s["pass_s"]), len(s["pass_s"])),
        "lat_p50_s": pct_metric(w["lat"], 0.5),
        "lat_p90_s": pct_metric(w["lat"], 0.9),
        "heap_live_mb": (s["heap_live_mb"][0], 1),
    }


def per_layer(raw, spec, workload):
    layers = dict(raw["layers"])
    fails = raw["failures"]
    layers["check.thrown"] = float(sum(1 for f in fails if f["kind"] == "thrown"))
    layers["check.digest_mismatch"] = float(sum(1 for f in fails if f["kind"] in ("digest_mismatch", "wrong_output")))
    layers["fail_frac"] = raw["failed"] / max(1, raw["attempted"])
    # set-up spans are reported per set-up, all others per timed unit
    setup_spans, spans = M.split_by_root(raw["spans"], "setup")
    setups = [x for x in setup_spans if x["name"] == "setup"]
    layers["self.setup_s"] = M.self_times(setup_spans).get("setup", 0.0) / max(1, len(setups))
    norm = raw["norm"] or 1.0
    selfs = M.self_times(spans)
    for name in ("pass", "gate", "build", "consume", "job", "run", "trigger", "sink", "recon"):
        layers[f"self.{name}_s"] = selfs.get(name, 0.0) / norm
    phase_names = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
    layers["self.phase_s"] = sum(selfs.get(p, 0.0) for p in phase_names) / norm
    layers["trace.spans"] = float(len(raw["spans"]))
    info, w = raw["info"], raw["weighted"]
    if workload == "stream-market":
        layers["stream.lat_p99_s"] = M.percentile(w["t.lat"], 0.99)
        base, traced = info["untraced_trigger_s_per_event"], info["traced_trigger_s_per_event"]
    else:
        layers["stream.lat_p99_s"] = 0.0
        base, traced = M.median(info["untraced_pass_s"]), M.median(info["traced_pass_s"])
    layers["trace.overhead_frac"] = traced / base - 1.0 if base > 0 else 0.0
    # layers a workload does not have read 0: no streaming in the batch
    # workloads, no gate functions in the stream
    absent = (("stream.", "state.", "sink.", "ingest.", "gen.", "recon.") if workload != "stream-market"
              else ("operators.", "core.first_touch_s", "core.scratch_"))
    out = {}
    for m in spec:
        if m["name"] in layers:
            out[m["name"]] = (layers[m["name"]], None)
        elif m["name"].startswith(absent):
            out[m["name"]] = (0.0, None)
        else:
            fail(f"per-layer metric {m['name']} was not measured")
    return out


def self_test(classes, jars):
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xmx1g", "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.SelfTest"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=JVM_TIMEOUT_S)
    print("\n".join(l for l in r.stdout.splitlines() if l.startswith(("ok", "FAIL", "SelfTest"))))
    ok = ok and r.returncode == 0
    print("self-test:", "PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N] threads (default: all cores)")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--select", action="store_true", help="classify candidate gates (see README)")
    ap.add_argument("--record-golden", action="store_true")
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found")
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    wl = load_json("workloads.json")
    jars = spark_jars()
    classes = build(jars)
    if args.self_test:
        self_test(classes, jars)

    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names and not args.select:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    work = os.path.join(BUILD, "work", f"{args.workload or 'select'}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jargs = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.cores:
            jargs += ["--cores", str(args.cores)]
        if args.select or args.workload.startswith("batch-"):
            data = data_dir(wl["sf"])
            golden = load_json("golden.json")
            gates = wl["candidates"] if args.select else wl[args.workload]
            plan = os.path.join(work, "plan.tsv")
            with open(plan, "w") as f:
                f.writelines(f"{g}\t{golden.get(g, '-')}\n" for g in gates)
            jargs += ["--data", data, "--plan", plan, "--workload", "select" if args.select else args.workload]
            if args.record_golden:
                jargs += ["--record-golden", "1"]
        else:
            jargs += ["--workload", args.workload]
        t0 = time.time()
        raw = run_jvm(classes, jars, work, jargs, *(("4g", 1800) if args.select else ("2g", JVM_TIMEOUT_S)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.select:
        print(json.dumps(raw["info"]["select"]))
        return
    if args.record_golden:
        print(json.dumps(raw["info"]["digests"], indent=1, sort_keys=True))
        return

    for f in raw["failures"]:
        print(f"failure: {f['kind']} {f['what']}: {f['detail']}")
    if args.trace:
        spec = bench["per_layer"]
        values = per_layer(raw, spec, args.workload)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, f"{args.workload}-{args.seed}-{int(time.time())}.jsonl")
        with open(trace_file, "w") as f:
            f.writelines(json.dumps(sp) + "\n" for sp in raw["spans"])
        print(f"spans: {os.path.relpath(trace_file, ROOT)}")
    else:
        spec = bench["end_to_end"]
        values = end_to_end(raw)
    result = {}
    for m in spec:
        v, n = values[m["name"]]
        extra = ""
        if n is not None:
            q = {"lat_p50_s": 0.5, "lat_p90_s": 0.9}.get(m["name"])
            extra = f"  (n={n}{'' if q is None or M.supported(n, q) else ', under 10 samples beyond'})"
        print(f"{m['name']:28s} {v:14.6f} {m['unit']}{extra}")
        result[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = raw["failed"] == 0
    print(f"correct: {correct}  attempted: {raw['attempted']}  failed: {raw['failed']}  "
          f"wall: {time.time() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": result}))


if __name__ == "__main__":
    main()
