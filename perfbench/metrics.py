"""Metrics of one run, from the JVM's record and the check results.

End-to-end metrics come from op timings alone, so they mean the same in a
traced and an untraced run; they are reported from the untraced run.
Per-layer metrics need the traced run's spans, jobs, stages and planning
phases: a Spark job belongs to the span whose job group it carries, a
planning phase to the innermost span that was open when it started.
"""
import math
import os
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

TAIL_MIN_BEYOND = 10
PRIMARY = {"lifecycle_cow_write": "w", "lifecycle_mor_read": "r", "batch_refresh": "w"}


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted average of
    all order statistics. With the few samples a run yields (and latencies
    that cluster by table), it moves far less from run to run than a
    single order statistic does."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(xs):
    """(value, q): the highest quantile with at least ten samples beyond
    it, never below the median (too few samples report the median)."""
    q = max(0.5, 1 - TAIL_MIN_BEYOND / len(xs)) if xs else 0.5
    return hd_quantile(xs, q), q


def disk_bytes(root):
    """Bytes under `root`, each inode counted once."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def parquet_bytes(d):
    return sum(p.stat().st_size for p in Path(d).rglob("*.parquet"))


def compact_bytes(root, work):
    """Bytes of every parquet dataset under `root` rewritten as one file."""
    total = 0
    dirs = sorted({p.parent for p in Path(root).rglob("*.parquet")})
    for i, d in enumerate(dirs):
        t = pq.read_table(d)
        f = Path(work) / f"compact_{i}.parquet"
        pq.write_table(t, f, compression="snappy")
        total += f.stat().st_size
        f.unlink()
    return total


def space_amp(workload, out):
    out = Path(out)
    if workload == "batch_refresh":
        roots = sorted(out.glob("refresh_*")) + [out / "layout"]
        work = out / "compact"
        work.mkdir(exist_ok=True)
        return sum(map(disk_bytes, roots)) / sum(compact_bytes(r, work) for r in roots)
    return disk_bytes(out / "layout") / sum(parquet_bytes(out / f"tip_{t}") for t in "FP")


def end_to_end(workload, record, checked, setup_start_ms, props, out):
    ops = [o for o in record["ops"] if o["block"] >= 0]
    lat = {c: [o["dur_ns"] / 1e9 for o in ops if o["cls"] == c] for c in "wr"}
    first = min(o["start_ms"] for o in ops)
    if workload == "batch_refresh":
        stages = [o for o in ops if o["cls"] == "w"]
        docs = props["docs"] * props["blocks"] / sum(o["dur_ns"] / 1e9 for o in stages)
    else:
        writes = [o for o in ops if o["cls"] == "w"]
        rows = sum(checked["changed"].get(o["id"], (0, 0))[0] for o in writes)
        docs = rows / sum(o["dur_ns"] / 1e9 for o in writes)
    wt, wq = tail(lat["w"])
    rt, rq = tail(lat["r"])
    m = {
        "setup_s": ((first - setup_start_ms) / 1e3, "s"),
        "write_p50_s": (hd_quantile(lat["w"], 0.5), "s"),
        "write_tail_s": (wt, "s"),
        "read_p50_s": (hd_quantile(lat["r"], 0.5), "s"),
        "read_tail_s": (rt, "s"),
        "space_amp": (space_amp(workload, out), "ratio"),
        "docs_per_s": (docs, "docs/s"),
        "peak_rss_mb": (record["facts"]["vm_hwm_kb"] / 1024, "MB"),
    }
    samples = {"write": {"n": len(lat["w"]), "tail_q": wq},
               "read": {"n": len(lat["r"]), "tail_q": rq}}
    return m, samples


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(workload, record, checked, gen_s):
    facts = record["facts"]
    spans = {s["id"]: s for s in record["spans"]}
    by_group = {f"gb-{i}": s for i, s in spans.items()}
    ops = [o for o in record["ops"] if o["block"] >= 0]
    op_ids = {o["id"] for o in ops}
    blocks = len({o["block"] for o in ops})

    jobs_of = defaultdict(list)
    unlabelled = 0
    for j in record["jobs"]:
        s = by_group.get(j.get("group"))
        if s is None:
            unlabelled += 1
        elif s["trace"] in op_ids:
            jobs_of[s["trace"]].append(j)
    stages_of_job = defaultdict(list)
    for st in record["stages"]:
        stages_of_job[st["job"]].append(st)

    def op_stages(i):
        return [st for j in jobs_of[i] for st in stages_of_job[j["job"]]]

    # planning phases go to the innermost span open when they started
    queries_of = defaultdict(list)
    ordered = sorted(spans.values(), key=lambda s: s["start_ms"])
    for q in record["queries"]:
        inner = None
        for s in ordered:
            if s["start_ms"] > q["start_ms"]:
                break
            if s["end_ms"] >= q["start_ms"]:
                inner = s
        if inner is not None and inner["trace"] in op_ids:
            queries_of[inner["trace"]].append(q)

    # per-op scheduler and planning figures are medians over the ops the
    # workload is about: writes (lifecycle_cow_write, the refresh stages)
    # or reads (lifecycle_mor_read)
    primary = [o for o in ops if o["cls"] == PRIMARY[workload]]

    def per_op(f):
        return median([f(o) for o in primary])

    def total(f):
        return sum(f(o) for o in ops) / max(blocks, 1)

    dur = lambda o: o["dur_ns"] / 1e9
    job_s = lambda o: _union_ms([(j["start_ms"], j.get("end_ms", j["start_ms"]))
                                 for j in jobs_of[o["id"]]]) / 1e3
    st_sum = lambda k: (lambda o: sum(st[k] for st in op_stages(o["id"])))
    q_sum = lambda k: (lambda o: sum(q[k] for q in queries_of[o["id"]]) / 1e3)
    m = {
        "spark.jobs_per_op": (per_op(lambda o: len(jobs_of[o["id"]])), "count"),
        "spark.stages_per_op": (per_op(lambda o: sum(st["tasks"] > 0 for st in op_stages(o["id"]))), "count"),
        "spark.tasks_per_op": (per_op(st_sum("tasks")), "count"),
        "spark.job_s": (per_op(job_s), "s"),
        "spark.gap_s": (per_op(lambda o: dur(o) - job_s(o)), "s"),
        "spark.task_cpu_s": (total(st_sum("cpu_ns")) / 1e9, "s"),
        "spark.task_wait_s": (total(lambda o: st_sum("delay_ms")(o) + st_sum("fetch_wait_ms")(o)) / 1e3, "s"),
        "spark.shuffle_mb": (total(st_sum("shuffle_write")) / 2**20, "MB"),
        "spark.spill_mb": (total(st_sum("spill")) / 2**20, "MB"),
        "spark.peakmem_mb": (max([st["peak_mem"] for o in ops for st in op_stages(o["id"])] or [0]) / 2**20, "MB"),
        "spark.unlabelled_jobs": (unlabelled, "count"),
        "plans.query_executions_per_op": (per_op(lambda o: len(queries_of[o["id"]])), "count"),
        "plans.analysis_s": (per_op(q_sum("analysis_ms")), "s"),
        "plans.optimization_s": (per_op(q_sum("optimization_ms")), "s"),
        "plans.planning_s": (per_op(q_sum("planning_ms")), "s"),
    }
    kind_lat = defaultdict(list)
    for o in ops:
        kind_lat[o["kind"]].append(dur(o))
    sql_over = 0.0
    if kind_lat["sql_update"] and kind_lat["api_update"]:
        sql_over = median(kind_lat["sql_update"]) - median(kind_lat["api_update"])
    m["plans.sql_overhead_s"] = (sql_over, "s")

    lifecycle = workload != "batch_refresh"
    dml = [o for o in ops if o["cls"] == "w" and o["kind"] not in ("vacuum", "optimize")]
    reads = [o for o in ops if o["cls"] == "r"]
    w_bytes = sum(o.get("bytes_written", 0) for o in dml)
    logical = sum(checked.get("changed", {}).get(o["id"], (0, 0))[1] for o in dml)
    m.update({
        "sources.apply_s": (median(kind_lat["api_update"]), "s"),
        "sources.files_written_per_write": (median([o.get("files_written", 0) for o in dml]) if lifecycle else 0, "count"),
        "sources.files_linked_per_write": (median([o.get("files_linked", 0) for o in dml]) if lifecycle else 0, "count"),
        "sources.bytes_written_per_write": (median([o.get("bytes_written", 0) for o in dml]) if lifecycle else 0, "B"),
        "sources.write_amp": (w_bytes / logical if logical else 0.0, "ratio"),
        "sources.sidecar_files": (median([o.get("sidecar_files", 0) for o in reads]) if lifecycle else 0, "count"),
        "sources.files_scanned_per_read": (median([sum(q["files"] for q in queries_of[o["id"]]) for o in reads]), "count"),
        "sources.bytes_read_per_read": (median([st_sum("input_bytes")(o) for o in reads]), "B"),
        "sources.generations_live": (median([o.get("generations_live", 0) for o in ops if "generations_live" in o]) if lifecycle else 0, "count"),
    })
    stage_s = lambda *kinds: sum(dur(o) for o in ops if o["kind"] in kinds) / max(blocks, 1)
    m.update({
        "operators.sigstore_s": (stage_s("sigstore"), "s"),
        "operators.dedup_s": (stage_s("dedup_d14", "dedup_d17", "dedup_d23", "dedup_d25"), "s"),
        "operators.similarity_s": (stage_s("similarity_s18", "similarity_s19"), "s"),
        "operators.text_s": (stage_s("text_t03"), "s"),
        "registry.dispatch_s": (stage_s("dispatch"), "s"),
        "registry.extract_s": (stage_s("extract_query", "extract_all"), "s"),
        "registry.ok_frac": (checked["extract_ok"] / checked["extract_rows"]
                             if checked.get("extract_rows") else 0.0, "ratio"),
    })
    setup_ops = [o for o in record["ops"] if o["block"] < 0]
    hist = sum(dur(o) for o in setup_ops if o["cls"] == "w") if workload == "lifecycle_mor_read" else 0.0
    warm = sum(dur(o) for o in setup_ops) - hist
    m.update({
        "setup.session_s": ((facts["session_ready_ms"] - facts["jvm_start_ms"]) / 1e3, "s"),
        "setup.generate_s": (gen_s, "s"),
        "setup.birth_s": ((facts["birth_end_ms"] - facts["birth_start_ms"]) / 1e3, "s"),
        "setup.history_s": (hist, "s"),
        "setup.warm_s": (warm, "s"),
        "trace.write_p50_s": (hd_quantile([dur(o) for o in ops if o["cls"] == "w"], 0.5), "s"),
        "trace.read_p50_s": (hd_quantile([dur(o) for o in reads], 0.5), "s"),
    })
    for k in ALL_KINDS:
        m[f"ops.{k}.p50_s"] = (median(kind_lat[k]), "s")
    return m


ALL_KINDS = ["sql_update", "api_update", "sql_move", "sql_delete", "sql_merge", "sql_insert",
             "vacuum", "read_tip", "read_agg", "read_point", "read_summary", "describe_history",
             "mor_trickle", "optimize", "dispatch", "extract_query", "extract_all", "sigstore",
             "dedup_d14", "dedup_d17", "dedup_d23", "dedup_d25", "similarity_s18",
             "similarity_s19", "text_t03", "lookup_extract", "lookup_dups", "lookup_quality",
             "lookup_dispatch"]
