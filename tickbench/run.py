#!/usr/bin/env python3
"""Run one benchmark measurement of the engine in this checkout.

    python3 tickbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 tickbench/run.py --selftest

Builds the engine and the benchmark from source on first use (an sbt build
in this directory that compiles the enclosing project as a source
dependency), runs one workload in a fresh work directory under
tickbench/.work/, checks its outputs, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line before
it holds the run's detail record (sample counts, per-class figures, host
context). Workloads and metrics are described in tickbench/README.md.
"""
import argparse
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
SPEC = os.path.join(ROOT, "BENCHMARK.json")
STAMP = os.path.join(HERE, "target", "bench-classpath.json")
RUN_DEADLINE_S = 175
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the root build sets the
# same list for its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"tickbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the last build; return the class path."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources beside the benchmark (expected build.sbt and "
            "src/main/scala/graft in the checkout root)")
    want = digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == want:
            return stamp["classpath"]
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if os.path.join("tickbench", "target") in l and ":" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        die("build failed:\n" + "\n".join(lines[-30:]))
    with open(STAMP, "w") as fh:
        json.dump({"digest": want, "classpath": cps[-1]}, fh)
    return cps[-1]


# Heap of every benchmark JVM, the tick_wire server included (Sut.scala
# starts it with this JVM's own options). Size, young generation and
# collector are fixed, so that the collector does not size the heap
# differently from run to run. The heap is not touched ahead of use: the
# young generation is soon all touched, and peak_rss_mb then grows with the
# old generation the program fills and with native memory.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC"]


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + HEAP +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-cp", cp, "tickbench.Main"] + args)


def run_jvm(cmd, work, deadline):
    """Run the benchmark JVM in its own process group; kill the group at the
    deadline and wait for it. Returns (exit code, stdout lines)."""
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True,
                             text=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        try:
            out, _ = p.communicate(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            die(f"run exceeded its deadline; log in {work}/jvm.log", 1)
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # the server JVM, if left
            except ProcessLookupError:
                pass
    return p.returncode, out.splitlines()


def tagged(lines, tag):
    found = [l[len(tag):] for l in lines if l.startswith(tag)]
    return json.loads(found[-1]) if found else None


def oracle_check(work):
    """Compare every analytics result with the query's oracle SQL run in
    DuckDB over the same generated tables. Returns (checked, mismatches)."""
    import duckdb
    data = os.path.join(work, "data-r1")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data, t)}/*.parquet'")
    checked, bad = 0, []
    for q in sorted(os.listdir(os.path.join(work, "results"))):
        checked += 1
        try:
            got = con.sql(f"SELECT * FROM '{work}/results/{q}/*.parquet'")
            exp = con.sql(oracle[q])
            gc, ec = sorted(got.columns), sorted(exp.columns)
            if [c.lower() for c in gc] != [c.lower() for c in ec]:
                bad.append(f"{q}: columns {gc} vs {ec}")
                continue
            norm = lambda rel, cols: sorted(
                tuple(str(v) for v in r)
                for r in rel.select(", ".join(f'"{c}"' for c in cols)).fetchall())
            g, e = norm(got, gc), norm(exp, ec)
            if g != e:
                bad.append(f"{q}: {len(g)} rows vs oracle {len(e)}, "
                           f"first difference {next((x for x in zip(g, e) if x[0] != x[1]), None)}")
        except Exception as ex:  # an oracle that cannot run is a failed check
            bad.append(f"{q}: {type(ex).__name__}: {ex}")
    return checked, bad


def load_spec():
    """Workloads and metric names, from BENCHMARK.json."""
    if not os.path.isfile(SPEC):
        die(f"no {os.path.relpath(SPEC, ROOT)} in the checkout root")
    with open(SPEC) as fh:
        return json.load(fh)


def check_names(spec, metrics, trace):
    """The metrics must be exactly the ones BENCHMARK.json declares."""
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    if sorted(want) != sorted(metrics):
        die(f"metrics disagree with BENCHMARK.json: missing "
            f"{sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}", 3)


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = classpath()
    deadline = time.time() + RUN_DEADLINE_S
    run_id = (f"selftest-{os.getpid()}" if a.selftest else
              f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(cp, work, ["--selftest"]), work, deadline)
            print("\n".join(lines))
            sys.exit(code)
        code, lines = run_jvm(java_cmd(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]), work, deadline)
        detail, result = tagged(lines, "@@detail "), tagged(lines, "@@result ")
        if code != 0 or result is None:
            with open(os.path.join(work, "jvm.log")) as fh:
                tail = fh.read().splitlines()[-40:]
            die(f"run failed (exit {code}):\n" + "\n".join(tail), 1)
        check_names(spec, result["metrics"], a.trace)
        if a.workload == "analytics":
            checked, bad = oracle_check(work)
            result["attempted"] += checked
            result["failed"] += len(bad)
            detail["oracle_checked"] = checked
            detail["errors"] = detail.get("errors", []) + bad
        result["correct"] = result["failed"] == 0 and result["attempted"] > 0
        out = os.path.join(HERE, "out", run_id)
        os.makedirs(out, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("spans") or f.endswith(".log"):
                shutil.copy(os.path.join(work, f), out)
        with open(os.path.join(out, "result.json"), "w") as fh:
            json.dump({"detail": detail, "result": result}, fh, indent=1)
        print(json.dumps(detail))
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
