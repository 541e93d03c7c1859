#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 wxbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine and the benchmark with sbt (offline), caches the runtime
classpath under wxbench/target and trains a class-data archive there
(see train_class_archive); later runs start the JVM directly. Each
run gets its own scratch root under wxbench/out (also the JVM's
java.io.tmpdir) that is removed when the run ends; the run artifact and,
for traced runs, the span file stay in wxbench/out.

When a workload lands query results with their oracle SQL (analytics_mix
does), each result is replayed against its oracle in DuckDB after the JVM
exits; a mismatch counts as a failed check. The JVM rejects an unknown
workload name.
"""
import argparse
import glob
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
JSA = os.path.join(HERE, "target", "classes.jsa")
JVM_DEADLINE_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"wxbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """SHA-256 over every build input (paths and contents): names the
    source a result was measured on, and triggers a rebuild when it changes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as g:
            h.update(hashlib.sha256(g.read()).digest())
    return h.hexdigest()


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def build():
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "classpath.stamp")
    stamp = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx3g")
    log = os.path.join(HERE, "target", "build.log")
    tmp = os.path.join(HERE, "target", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                            "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {r.returncode}); log in {log}")
    if os.path.exists(JSA):
        os.remove(JSA)
    with open(cp_file) as f:
        cp = f.read().strip()
    train_class_archive(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def value_hash(df):
    """Order-insensitive hash: columns sorted by name, floats at 6 decimals."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        rows.append("|".join(f"{v:.6f}" if isinstance(v, float) else str(v)
                             for v in row))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_replay(scratch, sf):
    """(checks attempted, failures) of the DuckDB replay of each query's
    oracle SQL against its baseline result."""
    import duckdb
    import pandas as pd
    out = os.path.join(scratch, "oracle")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet/*.parquet')")
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.concat([pd.read_parquet(p) for p in
                             sorted(glob.glob(f"{out}/{name}/*.parquet"))])
            want = con.execute(sql).df()
            ok = (len(got) == len(want)
                  and sorted(got.columns) == sorted(want.columns)
                  and value_hash(got) == value_hash(want))
        except Exception as e:  # a replay that cannot run is a failed check
            print(f"wxbench: oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failures.append(f"{name}: result differs from its DuckDB oracle")
            try:
                print(f"wxbench: oracle {name}: got\n{got.to_string()[:3000]}\n"
                      f"want\n{want.to_string()[:3000]}", file=sys.stderr)
            except NameError:
                pass
    con.close()
    return len(oracles), failures


def jvm_cmd(cp, flags, main_args):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp] + main_args


def run_jvm(cmd, cwd, log, deadline):
    """Exit code of `cmd`, or None when it outlives `deadline` (then its
    whole process group is killed)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def train_class_archive(cp):
    """Dumps a class-data archive of the classes a tiny analytics_mix run
    loads (the broadest set: Spark SQL, parquet, Hadoop; the classes only
    another workload needs load as usual). Every later run maps it, which
    cuts JVM and Spark start-up by a few seconds; it changes class
    loading only, so warm code runs the same. A failed training leaves
    no archive, and runs go on without one."""
    train = os.path.join(HERE, "target", "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    listing = os.path.join(train, "classlist")
    try:
        cmd = jvm_cmd(cp, [f"-XX:DumpLoadedClassList={listing}",
                           f"-Djava.io.tmpdir={train}/tmp"],
                      ["wxbench.Main", "--workload", "analytics_mix", "--seed", "0",
                       "--seconds", "1", "--trace", "0", "--tiny",
                       "--root", train, "--result", f"{train}/result.json"])
        if run_jvm(cmd, train, f"{train}/train.log", time.time() + 300) != 0:
            return
        cmd = jvm_cmd(cp, ["-Xshare:dump", f"-XX:SharedClassListFile={listing}",
                           f"-XX:SharedArchiveFile={JSA}"], [])
        if run_jvm(cmd, train, f"{train}/dump.log", time.time() + 300) != 0 and \
                os.path.exists(JSA):
            os.remove(JSA)
    finally:
        shutil.rmtree(train, ignore_errors=True)


def class_archive_flags():
    if not os.path.exists(JSA):
        return []
    return [f"-XX:SharedArchiveFile={JSA}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def run_main(cp, args, scratch, result, spans, log, deadline):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = jvm_cmd(cp, [f"-Djava.io.tmpdir={tmp}"] + class_archive_flags(),
                  ["wxbench.Main", "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--root", scratch, "--result", result,
                   "--spans", spans] + (["--tiny"] if args.tiny else []))
    code = run_jvm(cmd, scratch, log, deadline)
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("the run timed out" if code is None else f"the JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs and two rounds, for the benchmark's own tests")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources next to the benchmark (looked in {ROOT}); "
             "run from the root of a full checkout")
    cp = build()
    out_dir = os.path.join(HERE, "out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    scratch = os.path.join(out_dir, f"run-{tag}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        result = os.path.join(scratch, "result.json")
        spans = os.path.join(out_dir, f"spans-{tag}.jsonl")
        log = os.path.join(out_dir, f"log-{tag}.txt")
        t0 = time.time()
        run_main(cp, args, scratch, result, spans, log, time.time() + JVM_DEADLINE_S)
        jvm_s = time.time() - t0
        with open(result) as f:
            res = json.load(f)
        if os.path.exists(os.path.join(scratch, "oracle", "oracle_sql.json")):
            t0 = time.time()
            n, failures = oracle_replay(
                scratch, res["artifact"]["workload"]["tables_dir"])
            res["artifact"]["oracle_replay_s"] = time.time() - t0
            res["attempted"] += n
            res["failed"] += len(failures)
            res["correct"] = res["correct"] and not failures
            res["artifact"]["failed_checks"] += failures
            res["artifact"]["oracle_checks"] = n
        art = res.pop("artifact")
        art["failed_ratio"] = res["failed"] / max(1, res["attempted"])
        art["jvm_s"] = jvm_s
        art["env"]["source_sha256"] = source_digest()
        art["env"]["git_sha"] = git_sha()
        art["env"]["os_load_average"] = list(os.getloadavg())
        with open(os.path.join(out_dir, f"artifact-{tag}.json"), "w") as f:
            json.dump({**res, "artifact": art}, f, indent=1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
