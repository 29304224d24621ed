"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), runs one workload in
one JVM against the program's public Scala API under local[nproc], checks
the outputs, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The run's raw samples stay in `.bench_build/evidence/`. See
perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

SPEC = os.path.join(build.ROOT, "BENCHMARK.json")
# a run must end within 180 s, build excluded
JVM_TIMEOUT_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (None, max) when fewer than eleven samples
    leave no such percentile."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None, (xs[-1] if xs else None)
    # the sample at rank n - 10 (1-based) has exactly ten samples above it
    return 100.0 * (n - 10) / n, xs[n - 11]


def end_to_end(ev):
    unit_ms = [ns / 1e6 for ns in ev["unit_ns"]]
    busy_s = sum(ev["unit_ns"]) / 1e9
    return {
        "setup_s": ev["facts"]["setup_total_s"],
        "unit_p50_ms": statistics.median(unit_ms),
        "items_per_s": sum(ev["unit_items"]) / busy_s,
        "rss_peak_mb": ev["facts"]["rss_peak_mb"],
    }


def per_layer(ev, names):
    got = {k: statistics.median(v) for k, v in ev["layers"].items() if v}
    got["trace.overhead_ms"] = ev["facts"].get("trace_overhead_ms", 0.0)
    # a layer the workload does not call reads 0
    return {n: got.get(n, 0.0) for n in names}


def result(ev, spec, traced):
    if traced:
        metrics = per_layer(ev, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(ev)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {
        "correct": ev["failed"] == 0 and ev["attempted"] > 0,
        "attempted": ev["attempted"],
        "failed": ev["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def java_cmd(args, work, evidence, cores):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens,
            # no hsperfdata file in /tmp: a run writes only inside its checkout
            "-XX:-UsePerfData",
            # a fixed heap and young generation: the heap never resizes and
            # eden is touched in full between collections, so the
            # resident-set peak moves with what the program retains, not
            # with G1's adaptive sizing
            "-Xms3g", "-Xmx3g", "-Xmn768m",
            # the JVM flags the repository's build gives every forked main
            "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.sql.codegen.cache.maxEntries=8192",
            "-Dspark.shuffle.sort.bypassMergeThreshold=1",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", evidence, "--cores", str(cores)]


def run_jvm(cmd, cwd, log_path, timeout_s):
    """Run the benchmark JVM in its own process group; kill the group on
    timeout and wait until it has ended."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args(argv)
    # a terminated runner still kills and waits for its JVM (run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        import selftest
        return selftest.main()
    try:
        spec = load_spec()
    except OSError as e:
        print(f"[perfbench] cannot read {SPEC}: {e}", file=sys.stderr)
        return 2
    known = [w["name"] for w in spec["workloads"]]
    if args.workload not in known:
        print(f"[perfbench] unknown workload {args.workload!r}; known: {', '.join(known)}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    try:
        build.ensure()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build.BUILD_DIR, "runs", f"{tag}-{os.getpid()}")
    evidence = os.path.join(build.BUILD_DIR, "evidence", f"{tag}.json")
    log_path = os.path.join(build.BUILD_DIR, "logs", f"{tag}.log")
    for d in (os.path.join(work, "tmp"), os.path.dirname(evidence), os.path.dirname(log_path)):
        os.makedirs(d, exist_ok=True)
    if os.path.exists(evidence):
        os.remove(evidence)
    cores = len(os.sched_getaffinity(0))
    try:
        code = run_jvm(java_cmd(args, work, evidence, cores), work, log_path, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(evidence):
        why = "timed out" if code is None else f"exited {code}"
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"[perfbench] benchmark JVM {why}; log: {log_path}", file=sys.stderr)
        return 1
    with open(evidence) as f:
        ev = json.load(f)
    pct, tail_value = tail([ns / 1e6 for ns in ev["unit_ns"]])
    ev["summary"] = {"unit_ms_tail": tail_value, "tail_percentile": pct, "samples": len(ev["unit_ns"]),
                     "failed_ratio": ev["failed"] / max(1, ev["attempted"]),
                     "input_mib_per_s": sum(ev["unit_bytes"]) / 2**20 / (sum(ev["unit_ns"]) / 1e9)}
    with open(evidence, "w") as f:
        json.dump(ev, f, indent=1)
    for line in ev["failures"][:10]:
        print(f"[perfbench] FAILED: {line}")
    print(f"[perfbench] evidence: {os.path.relpath(evidence, build.ROOT)} "
          f"samples={len(ev['unit_ns'])} tail={tail_value} (p{pct}) setup={ev['setup']} "
          f"control_ms={[round(c, 1) for c in ev['control_ms']]}")
    print(json.dumps(result(ev, spec, args.trace == 1)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
