#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny seeded size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload traced on tiny inputs and asserts that:
- every end-to-end and per-layer metric in BENCHMARK.json is printed
  with its unit, and the run is correct;
- spark.unlabelled_jobs is 0 (every Spark job is filed under a span);
- the counts that should repeat exactly do repeat on a second run of the
  same seed;
- a planted wrong result (a corrupted read, tip or consumer output) makes
  the check fail.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
from pathlib import Path  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402

SEED = 5
REPEATS = ["spark.jobs_per_op", "sources.files_written_per_write",
           "sources.files_linked_per_write", "sources.generations_live"]


def run(workload):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "10", "--trace", "1", "--tiny",
                        "--keep"], capture_output=True, text=True)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    kept = max(Path(".bench_run").glob(f"{workload}-s{SEED}-t1-*"), key=lambda d: d.stat().st_mtime)
    return report, result, kept


def expect_metrics(printed, spec, what):
    for m in spec:
        got = printed.get(m["name"])
        assert got is not None, f"{what}: {m['name']} not printed"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} not a number"


def planted_lifecycle(d):
    inputs, out = d / "inputs", d / "out"
    record = json.loads((out / "record.json").read_text())
    assert not check.lifecycle(inputs, out, record)["failed"]
    reads = (out / "reads.jsonl").read_text().splitlines()
    first = json.loads(reads[0])
    first["rows"][0][-1] = 999_999_999 if isinstance(first["rows"][0][-1], int) else "planted"
    (out / "reads.jsonl").write_text("\n".join([json.dumps(first)] + reads[1:]) + "\n")
    tip = next((out / "tip_F").glob("*.parquet"))
    t = pq.read_table(tip)
    pq.write_table(t.set_column(4, "n_chars", pa.array([n + 1 for n in t.column(4).to_pylist()],
                                                       pa.int64())), tip)
    c = check.lifecycle(inputs, out, record)
    assert first["id"] in c["failed"], "a corrupted read passed the check"
    assert c["end"]["tip_F"], "a corrupted tip passed the check"


def planted_batch(d):
    inputs, out = d / "inputs", d / "out"
    record = json.loads((out / "record.json").read_text())
    assert not check.batch(inputs, out, record)["failed"]
    f = next((out / "refresh_0" / "text_t03").glob("*.parquet"))
    t = pq.read_table(f)
    q = t.column("quality").to_pylist()
    q[0] = q[0] + 0.5
    pq.write_table(t.set_column(t.schema.get_field_index("quality"), "quality",
                                pa.array(q, pa.float64())), f)
    failed = check.batch(inputs, out, record)["failed"]
    assert any(o["kind"] == "text_t03" and o["id"] in failed for o in record["ops"]), \
        "a corrupted t03 output passed the check"


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    kept = []
    try:
        for w in ("lifecycle_cow_write", "lifecycle_mor_read", "batch_refresh"):
            report, result, d = run(w)
            kept.append(d)
            assert result["correct"] and result["failed"] == 0, f"{w}: {result}"
            expect_metrics(report["end_to_end"], spec["end_to_end"], w)
            expect_metrics(result["metrics"], spec["per_layer"], w)
            assert result["metrics"]["spark.unlabelled_jobs"]["value"] == 0, f"{w}: unlabelled jobs"
            if w == "batch_refresh":
                planted_batch(d)
            else:
                planted_lifecycle(d)
            if w == "lifecycle_cow_write":
                again, result2, d2 = run(w)
                kept.append(d2)
                for m in REPEATS:
                    a, b = result["metrics"][m]["value"], result2["metrics"][m]["value"]
                    assert a == b, f"{m} did not repeat: {a} vs {b}"
                a, b = report["end_to_end"]["space_amp"]["value"], again["end_to_end"]["space_amp"]["value"]
                assert a == b, f"space_amp did not repeat: {a} vs {b}"
            print(f"ok {w}", flush=True)
    finally:
        for d in kept:
            shutil.rmtree(d, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
