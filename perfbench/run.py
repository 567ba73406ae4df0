#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <service_mix|library_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(Spark local[4], one client thread), which generates the inputs from the
seed, sets up three times, measures for --seconds and writes a run record.
This script then checks the outputs (DuckDB oracle for the service_mix
endpoints, pinned digests for library_batch; the JVM checks service_mix's
lake exports itself), prints every metric with its unit, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The metrics are the end_to_end list of BENCHMARK.json with
--trace 0, and its per_layer list with --trace 1.

    python3 perfbench/run.py --pin-seeds 0-31   # re-pin library_batch digests
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
PINS = os.path.join(HERE, "pins.json")
WORKLOADS = ("service_mix", "library_batch")
HEAP = "3g"
# Lower HotSpot compile thresholds. With the defaults a fresh JVM needs
# about 70 service calls (~50 s) before call latency stops falling, which
# the run budget cannot pay on every run; with these the warm-up passes of
# each workload get most of the way there. Both commits of a comparison
# run with the same flags.
JIT_WARMUP = [
    "-XX:Tier3InvocationThreshold=50", "-XX:Tier3MinInvocationThreshold=20",
    "-XX:Tier3CompileThreshold=500", "-XX:Tier3BackEdgeThreshold=6000",
    "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=100",
    "-XX:Tier4CompileThreshold=2000", "-XX:Tier4BackEdgeThreshold=8000",
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    dirs = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, dn, fn in os.walk(d):
            dn.sort()
            files += [os.path.join(dp, f) for f in sorted(fn)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("perfbench: engine sources not found under src/main/scala "
                         "(run from the root of a source checkout)")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    log("building engine + harness with sbt ...")
    t0 = time.time()
    p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"] + JIT_WARMUP
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]


def fresh(work):
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)


def run_jvm(cp, workload, seed, seconds, trace, work):
    fresh(work)
    log(f"running {workload} seed={seed} seconds={seconds} trace={trace}")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.run(java_cmd(cp, work, [workload, seed, seconds, trace, work]),
                           stdout=logf, stderr=subprocess.STDOUT, timeout=170)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def generate(cp, seed, work):
    """Write the inputs for `seed` under `work`; return their sha256."""
    fresh(work)
    p = subprocess.run(java_cmd(cp, work, ["gen", seed, work]), stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=170, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


# ---- output checks ---------------------------------------------------------

def canon(v):
    """A cell as comparable value: numbers as float, timestamps as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):  # datetime from DuckDB
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def oracle_check(record):
    """Run each distinct service call's oracle SQL on DuckDB over the same
    input files and compare the ordered rows. Returns failing call keys."""
    import duckdb
    inputs = record["oracle_inputs"]
    con = duckdb.connect()
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{inputs}/{f}/*.parquet')")
    bad = []
    with open(record["oracle_file"]) as f:
        calls = [json.loads(l) for l in f if l.strip()]
    for c in calls:
        try:
            want = [[canon(v) for v in r] for r in con.execute(c["sql"]).fetchall()]
        except Exception as e:  # noqa: BLE001 - any oracle failure is a mismatch
            bad.append(f'{c["key"]}: oracle error {e}')
            continue
        got = [[canon(v) for v in r] for r in c["rows"]]
        ok = len(got) == len(want) and all(
            len(g) == len(w) and all(same(x, y) for x, y in zip(g, w))
            for g, w in zip(got, want))
        if not ok:
            bad.append(c["key"])
    return bad, len(calls)


def load_pins():
    if os.path.exists(PINS):
        with open(PINS) as f:
            return json.load(f)
    return {}


def pin_check(record, pins):
    """library_batch: every step must give one digest across the run's
    passes, equal to the one pinned for the run's input set. A step
    without a pinned digest fails."""
    pinned = pins.get(str(record["input_seed"]), {})
    bad = []
    for step, ds in record["step_digests"].items():
        if len(ds) != 1:
            bad.append(f"{step}: digest changed between passes")
        elif pinned.get(step) != ds[0]:
            bad.append(f"{step}: digest {ds[0]} != pinned {pinned.get(step)}")
    return bad


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-seeds", help="write library_batch pins for seeds a-b")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    if a.pin_seeds:
        lo, hi = (int(x) for x in a.pin_seeds.split("-"))
        work = os.path.join(WORK, "pin")
        fresh(work)
        p = subprocess.run(java_cmd(cp, work, ["pin", lo, hi, work]), stdout=subprocess.PIPE,
                           text=True, check=True)
        pins = load_pins()
        pins.update(json.loads(p.stdout.strip().splitlines()[-1]))
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        return

    if a.workload is None:
        ap.error("--workload is required")
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work)

    failures = list(rec["failures"])
    failed = rec["failed"]
    attempted = rec["attempted"]
    checks = {}
    if a.workload == "service_mix":
        bad, n = oracle_check(rec)
        checks["oracle_calls_checked"] = n
        if bad:
            # each distinct call whose rows differ is one failed operation
            failures += [f"oracle mismatch: {k}" for k in bad]
            failed += len(bad)
    elif a.workload == "library_batch":
        bad = pin_check(rec, load_pins())
        checks["input_set"] = rec["input_seed"]
        failures += bad
        failed += len(bad)
    correct = failed == 0

    kind = "per_layer" if a.trace else "end_to_end"
    values = rec[kind]
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    # human-readable report; the result line stays the last line of stdout
    print(f"# {a.workload} seed={a.seed} trace={a.trace}")
    for k, v in metrics.items():
        print(f"{k:>34} {v['value']:>16.6g} {v['unit']}")
    print(f"{'fail_ratio':>34} {failed / max(1, attempted):>16.6g} ratio")
    if "lake_bytes_per_input_byte" in rec and "lake_bytes_per_input_byte" not in metrics:
        print(f"{'lake_bytes_per_input_byte':>34} "
              f"{rec['lake_bytes_per_input_byte']:>16.6g} ratio")
    print("# inputs " + json.dumps(rec["inputs"], sort_keys=True)[:2000])
    print("# hygiene " + json.dumps(rec["hygiene"], sort_keys=True))
    print("# setup " + json.dumps(rec["setup"], sort_keys=True))
    print("# run " + json.dumps({**rec["run"], **checks}, sort_keys=True))
    for fl in failures[:20]:
        print(f"# FAILED {fl}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
