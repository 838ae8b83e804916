"""Raster-cube benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py),
then runs one workload in one JVM on local[nproc - 1]. Prints every metric
by name and unit, and as the last line of stdout one JSON object with
the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run
(spans written to .bench_build/perfbench/). Scratch stores live under
.bench_build/perfbench/ and are removed at exit.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("date_append", "region_queries")
DEADLINE_S = 175
FIRST_BUILD_DEADLINE_S = 880

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_mb():
    """2 GB, or a quarter of physical memory if that is less: the stores
    are a few tens of MB, and the box may be shared."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return min(2048, kb // 1024 // 4)


def load_spec():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        return json.load(fh)


def java_cmd(cp, heap, work, main_args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # the serial collector on a 1 GB initial heap, not pre-touched: no
    # GC threads beside the task threads, a fixed young generation, and
    # an old generation whose touched pages follow the data the engine
    # keeps, so peak RSS does not follow pause-time goals
    return (["java", f"-Xms{min(heap, 1024)}m", f"-Xmx{heap}m", "-XX:+UseSerialGC",
             "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, "graftbench.Main"] + main_args)


def task_threads(cores):
    return max(1, cores - 1)


def steal_s():
    """CPU time the hypervisor has taken from the host so far (the
    `steal` column of /proc/stat, in USER_HZ = 1/100 s ticks)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / 100


def run_jvm(cmd, deadline):
    """Run the JVM with its output on stderr; kill it at the deadline.
    Returns its exit code (None when killed) and its own peak RSS in MB,
    which leaves out the compiler run of a first build."""
    # scratch space stays inside the checkout: a cluster-manager local
    # dir from the environment would override spark.local.dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        while time.time() < deadline:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024
            time.sleep(0.1)
        return None, 0.0
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    start = time.time()
    first = not os.path.isdir(build.BUILD_DIR)
    cp, digest = build.build()
    cores = len(os.sched_getaffinity(0))
    heap = heap_mb()
    clear_stale_work()
    work = os.path.abspath(os.path.join(build.BUILD_DIR, f"work-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    deadline = start + (FIRST_BUILD_DEADLINE_S if first else DEADLINE_S)
    try:
        if a.selftest:
            rc, _ = run_jvm(java_cmd(cp, 1024, work, ["--selftest", "1"]), deadline)
            sys.exit(0 if rc == 0 else 1)
        # one core is left to the client thread, the JIT and the
        # collector: with a task thread on every core they queue behind
        # the tasks, and the run times the scheduler
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out, "--cores", str(task_threads(cores))]
        steal0 = steal_s()
        rc, rss_mb = run_jvm(java_cmd(cp, heap, work, args), deadline)
        stolen = steal_s() - steal0
        if rc != 0 or not os.path.exists(out):
            print(f"benchmark JVM failed (exit {rc})", file=sys.stderr)
            sys.exit(1)
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:
            keep = os.path.join(build.BUILD_DIR,
                                f"spans-{a.workload}-seed{a.seed}.json")
            shutil.copyfile(out + ".spans.json", keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, res, rss_mb, stolen, cores, heap, digest)


def clear_stale_work():
    """Remove scratch directories of earlier runs that were killed."""
    for d in glob.glob(os.path.join(build.BUILD_DIR, "work-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def report(a, res, rss_mb, stolen, cores, heap, digest):
    spec = load_spec()
    e2e = dict(res["e2e"], peak_rss_mb=rss_mb)
    layers = dict(res["layers"], **{"host.steal_s": stolen})
    info = res["info"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    print(f"nproc {cores}  task threads {task_threads(cores)}  heap {heap} MB  "
          f"spark {info['spark_version']}  "
          f"sources {digest}  commit {commit()}")
    # wall-time metrics follow the host: CPU taken by the hypervisor
    # during the run explains a slow run without re-running it
    print(f"host steal during the run: {stolen:.2f} s of CPU")
    print(f"store {info['width']}x{info['height']} px, {info['dates']} dates, "
          f"chunks {info['chunk']}; units {res['samples']['units']:.0f}, "
          f"query samples {res['samples']['query_samples']:.0f}")
    failed_ratio = res["failed"] / max(1, res["attempted"])
    print(f"checks: attempted {res['attempted']}  failed {res['failed']}  "
          f"failed_ratio {failed_ratio:.4f}")
    for e in res["errors"][:20]:
        print("  FAILED: " + e)
    metrics = {}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for m in wanted:
        v = (layers if a.trace else e2e).get(m["name"])
        print(f"  {m['name']:<38} {'n/a' if v is None else f'{v:.6g}':>14} {m['unit']}")
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    ok = res["failed"] == 0 and len(metrics) == len(wanted)
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
