#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from
source (perfbench/build.py). A run generates its inputs from the seed
(perfbench/gen.py), starts one JVM (local[N], N = min(4, nproc), one
client thread, closed loop) that sets up and runs the op script, checks
every output against DuckDB off the clock (perfbench/check.py), and
prints the metrics (perfbench/metrics.py). With --trace 0 the last line
holds the end-to-end metrics, with --trace 1 the per-layer ones. The line
before it reports run validity, input hash, sample counts and tail
quantiles. Exits non-zero when an output is wrong or the run breaks.

Workloads, their input properties and the metric -> layer -> workload map
are in perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("lifecycle_cow_write", "lifecycle_mor_read", "batch_refresh")
DEADLINE_S = 170          # a run ends within 180 s; checks need the rest
# A fixed, pre-touched heap: peak RSS then measures heap size plus native
# memory, not how far the collector happened to let the heap grow.
HEAP = "3g"
FOREIGN_CPU_LIMIT = 0.05  # foreign busy share of the box that marks a run contaminated
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(cp, workload, trace, inputs, out, tmp, timeout):
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java", *JVM_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
           "--workload", workload, "--inputs", str(inputs), "--out", str(out),
           "--trace", str(trace), "--cpus", str(cpus)]
    logf = out.parent / "jvm.log"
    with open(logf, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM did not finish within {timeout:.0f} s")
    if p.returncode != 0 or not (out / "record.json").exists():
        tail = logf.read_text(errors="replace").splitlines()[-30:]
        raise RuntimeError(f"JVM exited {p.returncode}:\n" + "\n".join(tail))
    return cpus


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input size")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    root = Path.cwd()
    try:
        cp = build.ensure(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        log(f"build failed: {e}")
        return 2
    t0 = time.time()
    # fixed-width name: the layout stores absolute paths, so a run's bytes
    # on disk (space_amp) repeat exactly only if the path length does
    run = root / ".bench_run" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid():07d}"
    shutil.rmtree(run, ignore_errors=True)
    inputs, out, tmp = run / "inputs", run / "out", run / "tmp"
    for d in (inputs, out, tmp):
        d.mkdir(parents=True)
    try:
        setup_start_ms = time.time() * 1e3
        props, digest = gen.generate(a.workload, a.seed, a.seconds, inputs, tiny=a.tiny)
        gen_s = time.time() - setup_start_ms / 1e3
        cpus = run_jvm(cp, a.workload, a.trace, inputs, out, tmp, DEADLINE_S - (time.time() - t0))
        record = json.loads((out / "record.json").read_text())
        checked = (check.batch if a.workload == "batch_refresh" else check.lifecycle)(
            inputs, out, record)
        e2e, samples = metrics.end_to_end(a.workload, record, checked, setup_start_ms, props, out)
        layer = metrics.per_layer(a.workload, record, checked, gen_s) if a.trace else {}
    except Exception as e:  # noqa: BLE001 - a broken run prints no result
        log(f"run failed: {e}")
        return 3
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)
    facts = record["facts"]
    failed = dict(checked["failed"])
    for o in record["ops"]:
        if not o["ok"]:
            failed[o["id"]] = o["error"]
    end_bad = {k: v for k, v in checked["end"].items() if v}
    if facts.get("finish_error"):
        end_bad["finish"] = facts["finish_error"]
    attempted = len(record["ops"]) + len(checked["end"])
    n_failed = len(failed) + len(end_bad)
    for i, why in sorted(failed.items()):
        log(f"op {i} failed: {why}")
    for k, why in end_bad.items():
        log(f"{k} failed: {why}")
    wall = (facts["measure_end_ms"] - facts["measure_start_ms"]) / 1e3
    foreign = facts["busy_jiffies"] / os.sysconf("SC_CLK_TCK") - facts["own_cpu_ns"] / 1e9
    share = foreign / (wall * (os.cpu_count() or 1)) if wall > 0 else 0.0
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs_sha256": digest,
        "heldout_seed": gen.HELDOUT_SEED, "input_properties": props, "samples": samples,
        "ops_failed_frac": n_failed / attempted,
        "validity": {"nproc": os.cpu_count(), "local_n": cpus, "heap_max_mb": facts["heap_max_mb"],
                     "measured_wall_s": wall, "foreign_cpu_s": foreign,
                     "foreign_cpu_share": share, "contaminated": share > FOREIGN_CPU_LIMIT},
    }
    as_json = lambda ms: {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}
    if a.trace:
        # the same end-to-end metrics under tracing: overhead = these - untraced
        report["end_to_end"] = as_json(e2e)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": as_json(layer if a.trace else e2e)}))
    return 0 if n_failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
