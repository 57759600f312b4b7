#!/usr/bin/env python3
"""Serving benchmark for graft: builds the program from source, runs one
workload against the real HTTP facade and gRPC endpoint, checks every
answer and prints the result object as the last line of stdout.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run it from the repository root. `--trace 1` runs the single-client traced
replay and prints the per-layer metrics instead of the end-to-end ones.
`--manifest` prints the BENCHMARK.json this script implements.

Build outputs, run directories and the full per-run records (environment,
failures, spans) go under `.bench_build/` in the repository root.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = [
    ("query_mix", "4 closed-loop clients over 8 query routes on a loaded, partly rewritten table"),
    ("write_read_growth", "lockstep HTTP and gRPC writes grow a table to 32 chunks; probe reads, restart"),
]

END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("query_p50_ms", "ms", "lower", 0.25),
    ("query_p90_ms", "ms", "lower", 0.25),
    ("queries_per_s", "1/s", "higher", 0.25),
    ("write_p50_ms", "ms", "lower", 0.25),
    ("write_p90_ms", "ms", "lower", 0.25),
    ("visible_p50_ms", "ms", "lower", 0.25),
    ("stored_bytes_per_row", "B", "lower", 0.05),
    ("heap_peak_mb", "MB", "lower", 0.25),
]

ROUTES = ["sql_csv", "sql_json", "influxql", "read_filter", "read_group",
          "window_agg", "tag_values", "flight_doget"]


def per_layer():
    m = [
        ("sources.lp_parse_us_per_line", "us", "lower"),
        ("sources.lp_frames_ms", "ms", "lower"),
        ("server.entry_decode_ms", "ms", "lower"),
        ("server.land_ms", "ms", "lower"),
        ("server.jobs_per_write", "count", "lower"),
        ("server.stored_bytes", "B", "lower"),
        ("server.chunks.first", "count", "lower"),
        ("server.chunks.last", "count", "lower"),
        ("server.chunk_list_ms", "ms", "lower"),
        ("server.transport_floor_grpc_ms", "ms", "lower"),
        ("server.transport_floor_http_ms", "ms", "lower"),
        ("operators.view_build_ms", "ms", "lower"),
        ("operators.view_build_ms.first", "ms", "lower"),
        ("operators.view_build_ms.last", "ms", "lower"),
        ("operators.view_plan_nodes", "count", "lower"),
        ("operators.scan_rows_per_result_row", "ratio", "lower"),
    ]
    for r in ROUTES:
        m += [
            (f"route.{r}_p50_ms", "ms", "lower"),
            (f"operators.plan_ms.{r}", "ms", "lower"),
            (f"operators.exec_ms.{r}", "ms", "lower"),
            (f"operators.jobs_per_query.{r}", "count", "lower"),
            (f"operators.task_ms_per_query.{r}", "ms", "lower"),
            (f"operators.shuffle_bytes_per_query.{r}", "B", "lower"),
        ]
        if r != "influxql":
            m.append((f"server.encode_ms.{r}", "ms", "lower"))
        m += [
            (f"server.bytes_out.{r}", "B", "lower"),
            (f"server.transport_ms.{r}", "ms", "lower"),
        ]
    m += [
        ("trace.untraced_e2e_ms", "ms", "lower"),
        ("trace.traced_e2e_ms", "ms", "lower"),
        ("trace.overhead_ms", "ms", "lower"),
        ("trace.probe_rise_ms", "ms", "lower"),
        ("trace.probe_rise_layers_ms", "ms", "lower"),
        ("trace.probe_rise_unexplained_ms", "ms", "lower"),
    ]
    return m


RUN_SECONDS = 10
# the benchmark JVM's heap, fixed so heap_peak_mb compares across runs
XMX = "3g"


def manifest():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit(src_hash):
    """The commit when the checkout is a git repository, else the source
    tree hash (a checkout without .git has no commit to name)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "src-" + src_hash[:16]


def sbt_env():
    """Offline sbt whose temporary files (server sockets, file-watch
    state) stay under .bench_build."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_hash):
    """Compiles the program and the benchmark (perfbench/build.sbt) once
    per source tree; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(r.stdout)
    if r.returncode != 0:
        fail(f"build failed, see {log}", 1)
    lines = [l.strip() for l in r.stdout.splitlines()
             if l.strip() and not l.startswith("[") and "scala-2.13" in l]
    if not lines:
        fail(f"build printed no classpath, see {log}", 1)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(src_hash)
    return cp


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def check_result(res, trace):
    """The result object has exactly the contract's keys, and its metrics
    are exactly the manifest's for this mode, with the manifest's units."""
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    want = ({n: u for n, u, _ in per_layer()} if trace
            else {n: u for n, u, _, _ in END_TO_END})
    got = {n: m.get("unit") for n, m in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        return f"metrics differ from the manifest: missing {missing[:5]} extra {extra[:5]}"
    if any(not isinstance(m.get("value"), (int, float)) for m in res["metrics"].values()):
        return "a metric has no numeric value"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[n for n, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--manifest", action="store_true",
                    help="print the BENCHMARK.json this script implements")
    a = ap.parse_args()
    if a.manifest:
        print(json.dumps(manifest(), indent=2))
        return
    if a.workload is None:
        fail("--workload is required")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(f"no program sources under {ROOT} (src/main/scala, build.sbt)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    src_hash = source_hash()
    cp = build(src_hash)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(nproc()))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    record = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(record), exist_ok=True)
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": cpus, "PERFBENCH_COMMIT": commit(src_hash),
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dio.netty.tryReflectionSetAccessible=true", "-Dspark.ui.enabled=false",
            "-XX:-UsePerfData",
            f"-Xmx{XMX}", f"-Xms{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--record", record])
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
        # a terminated benchmark takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(1)))
        try:
            out, _ = p.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"run exceeded 170 s, see {log}", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"benchmark exited {p.returncode}, see {log}", 1)
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"last line is not JSON, see {log}", 1)
    problem = check_result(res, a.trace == 1)
    if problem:
        fail(f"{problem}; record in {record}", 1)
    with open(record) as f:
        env_rec = json.load(f)["env"]
    print("# env " + json.dumps({k: env_rec[k] for k in (
        "workload", "seed", "nproc", "spark_graft_cpus", "xmx_mb", "commit",
        "flush_policy")}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
