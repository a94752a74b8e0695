#!/usr/bin/env python3
"""Regenerate perfbench/digests.tsv, the reference digests run.py checks.

    python3 perfbench/make_digests.py

Run it from the root of a checkout whose query results are known good. For
every query of every workload it

1. dumps the result with graft.Verify and checks it against DuckDB with
   tools/selfcheck.py on the benchmark's fixtures (a query with an oracle
   must pass; rows-only queries are checked for existence by selfcheck);
2. digests the result with the harness at local[nproc] and again at
   local[1] (each twice in one JVM), and refuses a query whose digest
   depends on the evaluation or the core count;
3. writes name<TAB>rows:hashsum lines to perfbench/digests.tsv.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    with open(os.path.join(run.BENCH, "workloads.json")) as f:
        spec = json.load(f)
    names = []
    for wl in spec["workloads"].values():
        names += [q for q in wl["queries"] if q not in names]
    fixtures = os.path.join(run.BENCH, spec["fixtures"])
    cp = run.build()
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(run.WORK, "make_digests")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    log = os.path.join(scratch, "jvm.log")
    java = ["java"] + [x for p in run.JDK17_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    java += ["-Xmx3g", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={scratch}", "-cp", cp]

    dump = os.path.join(scratch, "verify")
    with open(log, "a") as out:
        subprocess.run(java + ["graft.Verify", fixtures, dump] + names, check=True,
                       cwd=scratch, stdout=out, stderr=out,
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)))
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "selfcheck.py"),
                            fixtures, dump] + names, capture_output=True, text=True)
    print(check.stdout.strip().splitlines()[-1] if check.stdout.strip() else check.stderr)
    m = re.search(r"(\d+) pass, (\d+) fail", check.stdout)
    if check.returncode != 0 or not m or m.group(2) != "0":
        sys.exit("selfcheck failed:\n" + check.stdout[-4000:] + check.stderr[-2000:])

    digests = {}
    for n in (cpus, 1):
        outfile = os.path.join(scratch, f"digests_{n}.tsv")
        jvm = run.Jvm(cp, os.path.join(scratch, f"run{n}"),
                      ["--mode", "digest", "--cpus", str(n), "--fixtures", fixtures,
                       "--queries", ",".join(names), "--out", outfile], log)
        code, _ = jvm.wait(time.perf_counter() + 3600)
        if code != 0:
            sys.exit(f"digest run at local[{n}] failed; see {log}")
        with open(outfile) as f:
            digests[n] = dict(l.rstrip("\n").split("\t") for l in f if l.strip())
    unstable = [q for q in names if digests[cpus][q] != digests[1][q]]
    if unstable:
        sys.exit("digests depend on the core count: " + ", ".join(unstable))
    with open(os.path.join(run.BENCH, spec["digests"]), "w") as f:
        f.write(f"# name\trows:sum(xxhash64) -- {spec['fixtures']}, written by make_digests.py\n")
        for q in names:
            f.write(f"{q}\t{digests[cpus][q]}\n")
    print(f"{len(names)} reference digests written")


if __name__ == "__main__":
    main()
