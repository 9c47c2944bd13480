#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the harness from source,
runs one workload in a fresh JVM, drives the out-of-process REST
generator when the workload asks for it, and prints the result as the
last line of standard output.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --record-digests 1,2,3 --workload batch_backfill

Run it from the repository root. See perfbench/README.md.
"""
import argparse
import bisect
import hashlib
import http.client
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
import zlib

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["rest_ingest_filter", "channel_keyed_window",
             "batch_backfill", "corpus_curation"]
# JVM flags Spark needs on JDK 17 outside spark-submit (the same list
# the engine's own build passes to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every input of the build: changes when any source does."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile engine and harness with sbt (only when a source changed)
    and return the runtime classpath."""
    cache = os.path.join(BENCH, "target", "perfbench.classpath")
    stamp = sources_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ---------------------------------------------------------------------------
# REST generator: open loop, one process, at most `conns` connections.
# ---------------------------------------------------------------------------

def rest_events(seed, n):
    """Seeded events: Zipf(1.1) users over 10k, value 0 one time in ten."""
    rng = random.Random(seed * 7919 + 17)
    weights = [1.0 / (r ** 1.1) for r in range(1, 10001)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    out = []
    for _ in range(n):
        u = min(bisect.bisect_left(cdf, rng.random()), 9999)
        v = 0.0 if rng.randrange(10) == 0 else float(1 + rng.randrange(100))
        out.append((f"u{u}", v))
    return out


def run_generator(plan):
    """Send every event of the plan on its schedule, never waiting for the
    engine: an event is due at a fixed time and is timed from then. Each
    user is routed to one connection, so per-user order is the send
    order. Writes one JSON line per event to plan['log']."""
    phases = [("warm", plan["rate"], plan["warm_s"]),
              ("nominal", plan["rate"], plan["nominal_s"]),
              ("saturation", plan["sat_rate"], plan["sat_s"])]
    sched, off = [], 0.0
    for ph, rate, dur in phases:
        n = int(round(rate * dur))
        sched += [(off + i / rate, ph) for i in range(n)]
        off += dur
    events = rest_events(plan["seed"], len(sched))
    conns = plan["conns"]
    queues = [[] for _ in range(conns)]
    for i, (u, v) in enumerate(events):
        queues[zlib.crc32(u.encode()) % conns].append(i)
    start_us = time.time_ns() // 1000 + 50_000
    end_us = start_us + int(off * 1e6)
    records = [None] * len(sched)

    def sender(q):
        c = http.client.HTTPConnection("127.0.0.1", plan["port"], timeout=10)
        for i in q:
            due = start_us + int(sched[i][0] * 1e6)
            now = time.time_ns() // 1000
            if now < due:
                time.sleep((due - now) / 1e6)
            elif sched[i][1] == "saturation" and now > end_us:
                continue  # past the phase: left unsent (generator backlog)
            u, v = events[i]
            send = time.time_ns() // 1000
            status, seq = 0, -1
            try:
                c.request("POST", "/ingest", json.dumps({"user": u, "value": v}),
                          {"Content-Type": "application/json"})
                r = c.getresponse()
                body = r.read()
                status = r.status
                if status == 200:
                    seq = json.loads(body)["accepted"]
            except (OSError, http.client.HTTPException, ValueError):
                c.close()
                c = http.client.HTTPConnection("127.0.0.1", plan["port"], timeout=10)
            records[i] = {"phase": sched[i][1], "due_us": due, "send_us": send,
                          "done_us": time.time_ns() // 1000, "status": status,
                          "seq": seq, "user": u, "value": v}
        c.close()

    cpu0 = time.process_time()
    threads = [threading.Thread(target=sender, args=(q,), daemon=True) for q in queues]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(plan["log"], "w") as f:
        for r in records:
            if r is not None:
                f.write(json.dumps(r) + "\n")
    return time.process_time() - cpu0


def run_all(a):
    """Run every workload BENCHMARK.json lists, one after another, and
    print each one's result line after its name; non-zero exit when any
    run failed or its output check did."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    failed = False
    for name in names:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        print(f"{name} {lines[-1] if lines else '(no result)'}", flush=True)
        failed |= p.returncode != 0
    return 1 if failed else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--record-digests", default=None,
                    help="comma-separated seeds: record output digests of a batch workload")
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a)

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "engine", "Pipelines.scala")):
        log(f"engine sources not found under {ROOT}; run from a full checkout")
        return 2
    cp = classpath()
    work = os.path.join(BENCH, ".work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           # C1 only: with the default tiered JIT, C2 compiles Spark for
           # minutes and holds 1-2 of 4 cores through a short run, so the
           # figures track the compiler and the host's other load
           + ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--work", work, "--digests", os.path.join(BENCH, "digests.json")])
    if a.record_digests:
        cmd += ["--record-digests", a.record_digests]
    else:
        cmd += ["--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    jvm = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                           text=True, cwd=ROOT)
    # a terminated launcher must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + (3600 if a.record_digests else RUN_TIMEOUT_S)
    killer = threading.Timer(max(1.0, deadline - time.time()), jvm.kill)
    killer.start()
    result = None
    try:
        for line in jvm.stdout:
            line = line.rstrip("\n")
            if line.startswith("PERFBENCH-GEN "):
                cpu = run_generator(json.loads(line[len("PERFBENCH-GEN "):]))
                jvm.stdin.write(f"DONE {cpu:.4f}\n")
                jvm.stdin.flush()
            elif line.startswith("PERFBENCH-RECORD "):
                rec = line[len("PERFBENCH-RECORD "):]
                print(rec, flush=True)
                results = os.path.join(BENCH, ".work", "results")
                os.makedirs(results, exist_ok=True)
                name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
                with open(os.path.join(results, name), "w") as f:
                    f.write(rec + "\n")
            elif line.startswith("PERFBENCH-RESULT "):
                result = line[len("PERFBENCH-RESULT "):]
            else:
                print(line, file=sys.stderr, flush=True)
        code = jvm.wait()
    finally:
        killer.cancel()
        if jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    if a.record_digests:
        return code
    if result is None:
        log(f"no result (JVM exit code {code})")
        return code or 3
    print(result, flush=True)
    return 0 if json.loads(result)["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
