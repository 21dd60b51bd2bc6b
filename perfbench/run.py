#!/usr/bin/env python3
"""The repository benchmark: fort.63 -> COG pipelines and engine queries.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt); later runs
reuse the build while no source file changed. Each run:

  1. makes its input from --seed (pipelines: perfbench/gen_fort63.py,
     cached by (K, T, seed)),
  2. times set-up three times -- two probe JVMs and the measuring JVM,
     each from launch to a ready session -- and reports input
     generation plus the median as setup_s (untraced runs only),
  3. runs one unmeasured warm-up pass, then measured passes for
     --seconds, checking every output,
  4. prints one `metric` line per figure and, last, one JSON object.

With --trace 1 the run alternates untraced and traced passes and
reports the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
XMX = "3g"
YOUNG = "512m"  # fixed young generation: the peak RSS then follows the live set
RUN_TIMEOUT_S = 170
PROBES = 2

# name -> (K, T, g): lattice side, hourly records, raster side.
# pipeline_forecast is for manual runs; BENCHMARK.json says why the
# gated set leaves it out.
PIPELINES = {
    "pipeline_hires": (150, 2, 600),
    "pipeline_forecast": (150, 24, 80),
}
ENGINE = "engine_sf001"
ENGINE_DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = list(PIPELINES) + [ENGINE]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, for the rebuild check."""
    picked = []
    for top, exts in ((ROOT, (".sbt",)), (os.path.join(ROOT, "project"), (".sbt", ".properties")),
                      (HERE, (".sbt",)), (os.path.join(HERE, "project"), (".sbt", ".properties"))):
        if os.path.isdir(top):
            picked += [os.path.join(top, f) for f in sorted(os.listdir(top)) if f.endswith(exts)]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(tree)):
            picked += [os.path.join(d, f) for f in sorted(files)]
    return picked


def build():
    """Compile with sbt unless the last build saw the same sources;
    returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = json.dumps([(p, os.path.getsize(p), os.path.getmtime(p)) for p in sources()])
    cp_file, stamp_file = os.path.join(WORK, "classpath"), os.path.join(WORK, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("no build.sbt at the checkout root: nothing to benchmark")
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    opts += " -Dsbt.override.build.repos=true -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        out = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, text=True, timeout=850)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    lines = [l.strip() for l in out.stdout.splitlines()
             if l.strip() and not l.startswith("[") and os.pathsep in l]
    if not lines:
        die("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(cp, *args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{XMX}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args])


def fort63(k, t, seed):
    """The generated input for (K, T, seed); older inputs are dropped."""
    d = os.path.join(WORK, "inputs")
    os.makedirs(d, exist_ok=True)
    name = f"fort63_K{k}_T{t}_s{seed}.nc"
    for f in os.listdir(d):
        if f != name:
            os.remove(os.path.join(d, f))
    path = os.path.join(d, name)
    if not os.path.exists(path):
        tmp = path + ".part"
        subprocess.run([sys.executable, os.path.join(HERE, "gen_fort63.py"), tmp,
                        str(k), str(t), str(seed)], check=True, stdout=subprocess.DEVNULL)
        os.replace(tmp, path)
    return path


def launch(cmd, relay, deadline):
    """Start a JVM; return (process, seconds from launch to READY, lines).
    The JVM is killed at `deadline` (epoch seconds)."""
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(max(1.0, deadline - t0), p.kill)
    watchdog.start()
    ready, lines = None, []
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith("READY ") and ready is None:
                ready = int(line.split()[1]) / 1000.0 - t0
            else:
                lines.append(line)
                if relay and not line.startswith("RESULT "):
                    print(line, flush=True)
        p.wait()
    finally:
        watchdog.cancel()
    if time.time() >= deadline:
        die(f"{cmd[-1]} did not finish in time")
    return p, ready, lines


def run_workload(cp, workload, seed, seconds, trace):
    t0 = time.time()
    deadline = t0 + RUN_TIMEOUT_S
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}"]
    if workload in PIPELINES:
        k, t, g = PIPELINES[workload]
        inp = fort63(k, t, seed)
        args += [f"input={inp}", f"shape={k},{t},{g}"]
    else:
        args += [f"input={ENGINE_DATA}",
                 f"pins={os.path.join(HERE, 'engine_pins.json')}"]
    gen_s = time.time() - t0
    work = os.path.join(WORK, "out", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args.append(f"work={work}")

    samples = []
    for _ in range(PROBES if trace == 0 else 0):
        p, ready, _ = launch(java_cmd(cp, "probe"), False, deadline)
        if p.returncode != 0 or ready is None:
            die("set-up probe failed")
        samples.append(ready)
    p, ready, lines = launch(java_cmd(cp, "run", *args), True, deadline)
    shutil.rmtree(work, ignore_errors=True)
    results = [l for l in lines if l.startswith("RESULT ")]
    if p.returncode != 0 or ready is None or not results:
        die(f"{workload} failed (exit {p.returncode})")
    result = json.loads(results[-1][len("RESULT "):])
    if trace == 0:
        samples.append(ready)
        setup = gen_s + statistics.median(samples)
        result["metrics"]["setup_s"] = {"value": setup, "unit": "s"}
        print(f"metric setup_s {setup} s")
        print(f"# set-up: input {gen_s:.3f} s + median of "
              f"{', '.join(f'{s:.3f}' for s in samples)} s from launch to a ready session")
    return result


def selftest(cp):
    d = os.path.join(WORK, "selftest")
    os.makedirs(d, exist_ok=True)
    gen = os.path.join(HERE, "gen_fort63.py")
    paths = []
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        paths.append(os.path.join(d, f"{name}.nc"))
        subprocess.run([sys.executable, gen, paths[-1], "30", "3", str(seed)], check=True,
                       stdout=subprocess.DEVNULL)
    blobs = [open(p, "rb").read() for p in paths]
    ok = True
    for what, cond in (("generator is byte-identical per seed", blobs[0] == blobs[1]),
                       ("another seed gives another file", blobs[0] != blobs[2])):
        print(f"{'ok  ' if cond else 'FAIL'} {what}")
        ok &= cond
    jvm = subprocess.run(java_cmd(cp, "selftest", paths[0], "30", "3", "11"), cwd=ROOT)
    shutil.rmtree(d, ignore_errors=True)
    return ok and jvm.returncode == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload or --selftest is required")
    cp = build()
    if a.selftest:
        sys.exit(0 if selftest(cp) else 1)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = [run_workload(cp, w, a.seed, a.seconds, a.trace) for w in names]
    if len(results) > 1:
        print("# all workloads: " + ", ".join(
            f"{w} {r['attempted']} ops, {r['failed']} failed" for w, r in zip(names, results)))
    result = {
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": results[0]["metrics"] if len(results) == 1 else {
            f"{w}.{m}": v for w, r in zip(names, results) for m, v in r["metrics"].items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
