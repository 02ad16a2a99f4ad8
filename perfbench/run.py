#!/usr/bin/env python3
"""graft benchmark: end-to-end and per-layer metrics of the staged
`graft.Main.run` pipeline and the stream replays.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
engine from source with sbt (offline, against the jars of the Spark
installation at SPARK_HOME) into perfbench/target; later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed into a scratch
directory under perfbench/.work, which is deleted when the run ends.

Standard output: one detail line (run conditions and every metric the
workload yields, with units), then the result line
{"correct", "attempted", "failed", "metrics"} holding the end_to_end
metrics of BENCHMARK.json (--trace 0) or its per_layer metrics (--trace 1).
See perfbench/README.md for the workloads and the metric-to-layer map.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")

# Input sizes: copies of the 5,000-doc sf0.1 documents table, and the
# events table (the sf0.1 event density, 1,500 users, over fewer days). See
# README.md for why they are sized so.
DOC_REP = 1
EVENT_DAYS = 2
EVENTS = dict(n_events=3_334 * EVENT_DAYS, users=1_500, days=EVENT_DAYS)
JVM_TIMEOUT_S = 170
MIN_FREE_BYTES = 2 << 30
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation of the first `spark-submit` on PATH
    that has the Spark SQL jars (a pip pyspark wrapper may come first)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    raise SystemExit("no Spark installation found: set SPARK_HOME")


def build(src_hash):
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return open(cp_file).read()
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "target" in l and ".jar" in l and
           not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_hash)
    return cps[-1].strip()


def driver_heap():
    """Half the machine's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def cpu_ticks():
    """The machine's (steal, total) CPU ticks from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def duckdb_rows(sql, events_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{events_dir}/events.parquet/*.parquet')")
    rows = con.execute(sql).fetchall()
    con.close()
    return "\n".join(sorted("|".join(str(v) for v in r) for r in rows))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["resume", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found: run from a checkout root")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    src_hash = source_hash()
    classpath = build(src_hash)
    built = time.time()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    jvm = None

    def cleanup(*_):
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)

    def on_signal(sig, _):
        cleanup()
        sys.exit(128 + sig)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        free = shutil.disk_usage(work).free
        if free < MIN_FREE_BYTES:
            raise SystemExit(f"only {free >> 20} MiB free under {work}")

        # ---- seeded inputs
        inputs = {k: os.path.join(work, "in", k) for k in ("docs", "events")}
        generated = {"docs": gen.documents(inputs["docs"], a.seed, DOC_REP),
                     "doc_bytes": gen.dir_bytes(inputs["docs"])}
        if a.workload == "stream":
            generated["events"] = gen.events(inputs["events"], a.seed, **EVENTS)
            generated["event_bytes"] = gen.dir_bytes(inputs["events"])

        # ---- the driver process
        cpus = os.cpu_count() or 1
        heap = driver_heap()
        result = os.path.join(work, "result.json")
        cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "graftbench.Harness", a.workload,
                str(a.seconds), str(a.trace), str(cpus), inputs["docs"],
                inputs["events"], work, result]
        load_before = loadavg()
        ticks_before = cpu_ticks()
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            jvm = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                   cwd=work)
            try:
                rc = jvm.wait(timeout=max(10, JVM_TIMEOUT_S -
                                          (time.time() - built)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            with open(jvm_log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            raise SystemExit(f"harness failed ({rc})")
        ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
        with open(result) as f:
            res = json.load(f)
        detail = res["detail"]

        # ---- stream_state: every iteration returned the rows of the
        # first (checked in the harness); those must equal the DuckDB twin
        if a.workload == "stream":
            for q in ("stream_horizon", "stream_dedup_horizon"):
                want = duckdb_rows(detail.pop(f"oracle.{q}"), inputs["events"])
                got = detail.pop(f"rows.{q}")
                detail[f"check.{q}"] = "ok" if got == want else "MISMATCH"
                if got != want:
                    res["failed"] = res["attempted"]

        units = {m["name"]: m["unit"]
                 for m in spec["per_layer" if a.trace else "end_to_end"]}
        missing = [n for n in units if n not in res["metrics"]]
        if missing:
            raise SystemExit(f"metrics missing from the harness: {missing}")
        wrong = [f"{n}: {res['metrics'][n]['unit']} != {u}"
                 for n, u in units.items() if res["metrics"][n]["unit"] != u]
        if wrong:
            raise SystemExit(f"metric units differ from BENCHMARK.json: {wrong}")
        metrics = {n: res["metrics"][n] for n in units}
        extra = {k: v for k, v in res["metrics"].items() if k not in metrics}
        print(json.dumps({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": cpus, "driver_heap": heap,
            "loadavg_before": load_before, "loadavg_after": loadavg(),
            "cpu_steal_share": round(ticks[0] / ticks[1], 4) if ticks[1] else None,
            "source_sha256": src_hash, "generated": generated,
            "run_s": round(time.time() - started, 3),
            "detail": detail, "other_metrics": extra}))
        print(json.dumps({
            "correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}))
    finally:
        cleanup()


if __name__ == "__main__":
    main()
