#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload olap_unique --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline, into perfbench/target) and caches the
classpath under .bench_build/; later runs with unchanged sources reuse it.
Inputs are generated from the seed by datagen.py and cached per seed.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 prints
the per-layer metrics plus `overhead.<metric>`: the traced run's end-to-end
value minus that of an untraced run of the same seed, made right after it
in the same invocation. `olap_unique` measures for --seconds; `ingest_cdc`
is a fixed batch.
Exits non-zero, after printing the result, if any output was wrong.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE = 0.0

# Inputs. The star is TPC-H scale 0.01 (60k lineitem rows); the corpus has
# DOCS documents and BUMPS CDC bumps, each with a lineitem delta of 1% of
# the fact (datagen.py gives the sources of the corpus and CDC shapes).
SCALE = 0.01
DOCS = 2000
BUMPS = 2
FACT_FRAC = 0.01

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared():
    """Units of the end-to-end and per-layer metrics BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"{path} not found")
    with open(path) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def commit():
    """The checkout's git commit, when it is a git work tree; results always
    carry the source hash as well."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_hash():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and reaped. Returns (exit code or None, stdout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""


class Lock:
    def __init__(self, name):
        os.makedirs(BUILD, exist_ok=True)
        self.f = open(os.path.join(BUILD, name + ".lock"), "w")

    def __enter__(self):
        fcntl.flock(self.f, fcntl.LOCK_EX)

    def __exit__(self, *a):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def build(src_hash):
    """Compiles engine + harness with sbt once per source hash; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    with Lock("build"):
        if os.path.exists(stamp):
            with open(stamp) as f:
                rec = json.load(f)
            if rec.get("hash") == src_hash:
                return rec["classpath"]
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspath"],
                              cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, timeout=600)
        if code is None:
            fail("build timed out")
        lines = [ln for ln in out.splitlines()
                 if "perfbench" in ln and ".jar" in ln and not ln.startswith("[")]
        if code != 0 or not lines:
            sys.stderr.write(out[-4000:])
            fail("build failed")
        rec = {"hash": src_hash, "classpath": lines[-1].strip()}
        with open(stamp, "w") as f:
            json.dump(rec, f)
        return rec["classpath"]


def inputs(seed):
    out = os.path.join(BUILD, "data", f"v2_s{SCALE}_d{DOCS}_b{BUMPS}_seed{seed}")
    with Lock("data"):
        if not os.path.exists(os.path.join(out, "cdc")):
            sys.path.insert(0, HERE)
            import datagen
            datagen.generate(out, seed, SCALE, DOCS, BUMPS, FACT_FRAC)
    return out


def heap():
    """Half the host's memory, clamped to 2..8 GiB (the test suite's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, workload, seed, seconds, trace, data):
    work = os.path.join(BUILD, "work", f"{workload}_{seed}_{trace}_{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            f"-Dperfbench.bumps={BUMPS}"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
              str(trace), data, work])
    log = os.path.join(BUILD, "logs", f"{workload}_{seed}_{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        code, out = run_group(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                              timeout=max(10.0, DEADLINE - time.time()))
    if code is None:
        fail(f"{workload} timed out; log: {log}")
    # keep the span file of a traced run; the rest of the work dir goes
    traces = os.path.join(work, "trace")
    if os.path.isdir(traces):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        for f in os.listdir(traces):
            os.replace(os.path.join(traces, f), os.path.join(BUILD, "traces", f))
    shutil.rmtree(work, ignore_errors=True)
    recs = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if code != 0 or not recs:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} exited with {code}; log: {log}")
    return json.loads(recs[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["olap_unique", "ingest_cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))

    e2e_units, layer_units = declared()
    src = source_hash()
    cp = build(src)
    data = inputs(a.seed)
    # once built, one invocation (its JVMs included) ends within 180 s
    global DEADLINE
    DEADLINE = time.time() + 165

    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data)
    info = {"commit": commit(), "source_hash": src, "settings": rec["settings"],
            "info": rec["info"], "e2e": rec["e2e"], "failures": rec["failures"],
            "finished": time.time()}
    if a.trace == 0:
        values, units = rec["e2e"], e2e_units
    else:
        base = run_jvm(cp, a.workload, a.seed, a.seconds, 0, data)
        values = dict(rec["layers"])
        for k, v in rec["e2e"].items():
            values[f"overhead.{k}"] = v - base["e2e"][k]
        info["untraced_e2e"] = base["e2e"]
        info["untraced_failures"] = base["failures"]
        units = layer_units
    if set(values) != set(units):
        fail(f"metrics {sorted(set(values) ^ set(units))} disagree with BENCHMARK.json")
    print(json.dumps({"run": info}))
    correct = all(r["failed"] == 0 and not r["failures"]
                  for r in ([rec] if a.trace == 0 else [rec, base]))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
