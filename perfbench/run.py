#!/usr/bin/env python3
"""Repo benchmark: one workload of declared graft queries, timed to the full
result on a fresh JVM, every result checked against a reference digest.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the harness and the
program from source with sbt (perfbench/build.sbt loads the root build);
later runs reuse the build until a source file changes. Everything the run
writes stays under perfbench/.work/, and each run gets a fresh temp dir,
warehouse dir and Spark local dir, deleted when it ends.

With --trace 0 the last line carries the end-to-end metrics, with --trace 1
the per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# A run that has not finished by then is killed and reported as a failure.
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840

# Fewest warm passes a run makes, whatever --seconds asks for.
MIN_WARM = 4
# JVMs a run starts only to time set-up, besides the one that measures.
SETUP_PROBES = 2

# Printed with the others but not gated: a good run's value is 0.
UNGATED = {"failed_frac"}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_key():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    os.makedirs(WORK, exist_ok=True)
    key, key_file = source_key(), os.path.join(WORK, "build.key")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(key_file):
        with open(key_file) as f:
            if f.read() == key:
                with open(cp_file) as f:
                    return f.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        # its own process group, so a timeout stops sbt's JVM too
        sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = sbt.wait(timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if sbt.poll() is None:
                os.killpg(sbt.pid, signal.SIGKILL)
                sbt.wait()
    if code is None:
        fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or os.path.join("perfbench", "target") not in cp:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(key_file, "w") as f:
        f.write(key)
    return cp


def cpu_probe_ms():
    """Fixed pure-Python work, best of three: a slow reading marks a noisy
    window in the record without waiting for a quiet one."""
    def once():
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        return (time.perf_counter() - t0) * 1000
    return min(once() for _ in range(3))


def window():
    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_ms": cpu_probe_ms()}


class Jvm:
    """One harness JVM. `ready_s` is the time from spawn to a ready session."""

    def __init__(self, cp, run_dir, args, log_path):
        tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        cmd = ["java"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
                "--warehouse", os.path.join(run_dir, "warehouse"), "--local", local] + args
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        self.log = open(log_path, "a")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.ready_s = None

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put((time.perf_counter(), line.rstrip("\n")))
        self.lines.put((time.perf_counter(), None))

    def wait(self, deadline):
        """Collect stdout until exit; kill the JVM if the deadline passes."""
        out = []
        while True:
            try:
                t, line = self.lines.get(timeout=max(0.1, deadline - time.perf_counter()))
            except queue.Empty:
                if time.perf_counter() >= deadline:
                    self.stop()
                    fail("the harness JVM overran its deadline and was killed")
                continue
            if line is None:
                break
            if line.startswith("READY") and self.ready_s is None:
                self.ready_s = t - self.t0
            out.append(line)
        code = self.proc.wait()
        self.log.close()
        return code, out

    def stop(self):
        """Kill the JVM if it still runs, and wait for it to end."""
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.perf_counter()
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    fixtures = os.path.join(BENCH, spec["fixtures"])
    digests = os.path.join(BENCH, spec["digests"])
    # A fixed pass count, not a deadline: every run of a workload then does
    # the same work and ends holding the same state.
    warm = max(MIN_WARM, round(a.seconds / wl["warm_pass_s"]))
    cp = build()
    deadline = time.perf_counter() + RUN_DEADLINE_S  # the build has its own limit
    cpus = len(os.sched_getaffinity(0))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    logs = os.path.join(WORK, "logs")
    records = os.path.join(WORK, "records")
    for d in (logs, records):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")
    open(log_path, "w").close()
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    before = window()
    spans = os.path.join(records, f"{tag}.spans.jsonl")
    setups = []
    jvm = None
    try:
        # Set-up gives one sample per JVM, so a run first starts JVMs that
        # only build the session, and reports the median over all of them.
        for i in range(SETUP_PROBES):
            jvm = Jvm(cp, os.path.join(run_dir, f"setup{i}"),
                      ["--mode", "setup", "--cpus", str(cpus)], log_path)
            code, _ = jvm.wait(deadline)
            if code != 0 or jvm.ready_s is None:
                fail(f"set-up JVM exited with {code}; see {log_path}")
            setups.append(jvm.ready_s)
        jvm = Jvm(cp, os.path.join(run_dir, "run"), [
            "--mode", "run", "--cpus", str(cpus), "--fixtures", fixtures,
            "--digests", digests, "--kind", wl["kind"], "--queries", ",".join(wl["queries"]),
            "--seed", str(a.seed), "--warm", str(warm), "--trace", str(a.trace),
            "--out", spans], log_path)
        code, out = jvm.wait(deadline)
    finally:
        if jvm:
            jvm.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    after = window()
    result = next((json.loads(l[len("RESULT "):]) for l in reversed(out)
                   if l.startswith("RESULT ")), None)
    if code != 0 or result is None or jvm.ready_s is None:
        fail(f"harness exited with {code} and no result; see {log_path}")

    setups.append(jvm.ready_s)
    e2e = {"setup_s": {"value": statistics.median(setups), "unit": "s"}, **result["end_to_end"]}
    print(f"workload {a.workload}: {len(wl['queries'])} queries, kind {wl['kind']}, "
          f"seed {a.seed}, {cpus} cores, {result['warm_passes']} warm passes, "
          f"{result['warm_samples']} warm query samples")
    print(f"window before: loadavg {before['loadavg_1m']:.2f}, cpu probe {before['cpu_probe_ms']:.1f} ms; "
          f"after: loadavg {after['loadavg_1m']:.2f}, cpu probe {after['cpu_probe_ms']:.1f} ms")
    notes = {"query_p50_ms": f"  (over {result['warm_samples']} warm samples)",
             "query_p90_ms": f"  (over {result['warm_samples']} warm samples)",
             "failed_frac": f"  ({result['failed']} of {result['attempted']} attempted)"}
    for name, m in list(e2e.items()) + list(result["per_layer"].items()):
        print(f"{name} {m['value']:.6g} {m['unit']}{notes.get(name, '')}")
    for p in result["passes"]:
        for msg in p["failures"]:
            print(f"FAILED pass {p['pass']}: {msg}")
    if a.trace:
        print(f"spans: {spans}")
        metrics = result["per_layer"]
    else:
        metrics = {n: m for n, m in e2e.items() if n not in UNGATED}

    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "cpus": cpus, "setup_samples_s": setups,
                   "window_before": before, "window_after": after,
                   "wall_s": time.perf_counter() - started, **result}, f, indent=1)
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
