#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload dashboard|curation|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the engine and
the harness with sbt (offline) and caches the classpath under
perfbench/target; later runs start the JVM directly. The ingest workload
gets a private PostgreSQL server under perfbench/work, started before the
JVM and stopped after it. The last stdout line is the result JSON; the exit
code is 0 only when every correctness check passed.
"""
import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed heap with a fixed young generation: peak RSS then follows the
# data the engine retains instead of G1's adaptive eden sizing, which
# moved it by up to a fifth between otherwise identical runs.
HEAP = "3g"
YOUNG = "512m"
# The client tier of the JIT only. With the server tier this engine keeps
# getting faster for over a minute of dashboard requests (they halve in
# latency over 150 of them), so a run that fits its time measures how far
# the compiler got, which host contention moves; client-tier code settles
# within the warm-up. It is slower on tight loops (Q4 about 1.8x).
JIT_TIER = "-XX:TieredStopAtLevel=1"

# Module openings Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Abort(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def classpath(root):
    """Build with sbt when the cached classpath is missing or stale."""
    bench = os.path.join(root, "perfbench")
    cp_file = os.path.join(bench, "target", "classpath.txt")
    sources = [os.path.join(bench, "src"), os.path.join(bench, "build.sbt"),
               os.path.join(bench, "project", "build.properties"),
               os.path.join(root, "src", "main"), os.path.join(root, "build.sbt")]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(sources):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    build_log = os.path.join(bench, "target", "build.log")
    cmd = ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(build_log, "w") as out:
        proc = subprocess.run(cmd, cwd=bench, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(build_log) as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        log("\n".join(lines[-30:]))
        raise Abort(f"build failed (exit {proc.returncode}); see {build_log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Postgres:
    """A throwaway PostgreSQL server with trust auth and superuser graft.

    Postgres refuses to run as root; under root the server runs in a user
    namespace that maps the unprivileged uid it sees onto the caller's, so
    its data directory can live anywhere the caller can write."""

    def __init__(self, root_dir):
        self.data = os.path.join(root_dir, "data")
        self.logfile = os.path.join(root_dir, "server.log")
        self.port = free_port()
        self.wrap = []
        if os.geteuid() == 0:
            self.wrap = ["unshare", "--user", "--map-user=65534", "--map-group=65534"]
        os.makedirs(root_dir, exist_ok=True)
        self.started = False

    def run(self, *cmd):
        res = subprocess.run(self.wrap + list(cmd), stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=60)
        if res.returncode != 0:
            raise Abort(f"{cmd[0]} failed: {res.stdout.decode(errors='replace')[-2000:]}")

    def start(self):
        self.run("initdb", "-D", self.data, "-A", "trust", "-U", "graft", "--no-sync")
        opts = (f"-p {self.port} -c listen_addresses=127.0.0.1 -c unix_socket_directories='' "
                "-c fsync=off -c synchronous_commit=off -c max_connections=32")
        self.run("pg_ctl", "-D", self.data, "-l", self.logfile, "-w", "-o", opts, "start")
        self.started = True

    def stop(self):
        if self.started:
            self.started = False
            self.run("pg_ctl", "-D", self.data, "-m", "fast", "-w", "stop")


def declared_metrics(root, trace):
    """The manifest and the metrics this kind of run reports, by name."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    return manifest, {m["name"]: m for m in manifest["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json",
                 os.path.join("perfbench", "build.sbt")]:
        if not os.path.exists(os.path.join(root, need)):
            raise Abort(f"not a repository checkout: {need} is missing under {root}")
    manifest, declared = declared_metrics(root, args.trace)
    if args.workload not in {w["name"] for w in manifest["workloads"]}:
        raise Abort(f"unknown workload {args.workload}")

    cp = classpath(root)
    work = os.path.join(root, "perfbench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    pg = None
    jvm = None
    try:
        if args.workload == "ingest":
            pg = Postgres(os.path.join(work, "pg"))
            pg.start()
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", JIT_TIER,
                "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
               + (["--pg-port", str(pg.port)] if pg else []))
        with open(os.path.join(work, "jvm.log"), "w") as err:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            jvm = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                   stdin=subprocess.DEVNULL, text=True, env=env)
            t0 = time.time()
            try:
                out, _ = jvm.communicate(timeout=RUN_TIMEOUT_S)
                log(f"perfbench: JVM ran {time.time() - t0:.1f}s")
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
                raise Abort(f"run exceeded {RUN_TIMEOUT_S}s")
        result_lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
        if jvm.returncode != 0 or not result_lines:
            with open(os.path.join(work, "jvm.log")) as f:
                log("".join(f.readlines()[-40:]))
            raise Abort(f"benchmark JVM exited {jvm.returncode} without a result")
        result = json.loads(result_lines[-1][len("RESULT "):])
        measured = result["metrics"]
        if not args.trace and set(declared) - set(measured):
            raise Abort(f"end-to-end metrics not measured: {sorted(set(declared) - set(measured))}")
        # a traced run reports 0 for the spans its workload never opens
        result["metrics"] = {name: {"value": measured.get(name, 0.0), "unit": m["unit"]}
                             for name, m in declared.items()}
        with open(os.path.join(work, "result.json")) as f:
            artifact = json.load(f)
        artifacts = os.path.join(root, "perfbench", "work", "artifacts")
        os.makedirs(artifacts, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(artifacts, name), "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"# host {json.dumps(artifact['host'])}")
        print(f"# sizes {json.dumps(artifact['sizes'])}")
        print(f"# failed_frac ratio {artifact['failed_frac']} "
              f"({artifact['failed']}/{artifact['attempted']}); samples {artifact['samples']}, "
              f"{artifact['samples_beyond_p80']} beyond p80")
        for f in artifact["failures"]:
            print(f"# failure {f}")
        for k in sorted(result["metrics"]):
            m = result["metrics"][k]
            print(f"# {k} {m['value']} {m['unit']}")
        print(json.dumps(result), flush=True)
        return 0 if result["correct"] else 1
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        if pg is not None:
            pg.stop()
        for d in os.listdir(work) if os.path.isdir(work) else []:
            if d not in ("result.json", "jvm.log"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def on_signal(signum, _frame):
    raise Abort(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        sys.exit(main())
    except Abort as e:
        log(f"perfbench: {e}")
        sys.exit(2)
