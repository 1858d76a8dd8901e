"""Off-the-clock output checks against DuckDB.

Lifecycle workloads: a reference replay of the seeded statement log over
the generated parquet. Every read is compared with the reference state it
names (the tip, or the generation `VERSION AS OF` asks for), DESCRIBE
HISTORY with the generations the script leaves live, and each table's
final tip with the replayed table. The replay also yields the rows each
write changed and their logical bytes (the base of `sources.write_amp`).

batch_refresh: every consumer's written output against DuckDB running
that query's oracle SQL on the generated corpus, the extraction output
against the stub decoders' definition, and each lookup against the same
lookup over the reference outputs.

Each function returns {"failed": {op id: reason}, "end": {check: reason or
None}, ...}; a reason is a one-line string.
"""
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, np.integer, np.floating)):
        return float(v)
    return str(v)


def same_rows(got, want):
    a = sorted((tuple(_norm(x) for x in r) for r in got), key=repr)
    b = sorted((tuple(_norm(x) for x in r) for r in want), key=repr)
    return a == b


def load_reads(out):
    p = Path(out) / "reads.jsonl"
    if not p.exists():
        return {}
    return {r["id"]: r["rows"] for r in map(json.loads, p.read_text().splitlines())}


def _ops(inputs):
    return [json.loads(l) for l in (Path(inputs) / "ops.jsonl").read_text().splitlines()]


ROW_BYTES = "8 + strlen(text) + strlen(lang) + strlen(source) + 8"


def lifecycle(inputs, out, record):
    con = duckdb.connect()
    docs = Path(inputs) / "docs.parquet"
    names = {"F": "tf", "P": "tp"}
    gen = {}
    for t in names.values():
        con.sql(f"CREATE TABLE {t} AS SELECT doc_id, text, lang, source, n_chars "
                f"FROM '{docs}'")
        con.sql(f"CREATE TABLE {t}__v0 AS SELECT * FROM {t}")
        gen[t] = 0
    reads = load_reads(out)
    ran = {o["id"] for o in record["ops"]}
    failed, changed = {}, {}
    for op in _ops(inputs):
        t = names[op["table"]]
        if op["cls"] == "w":
            if op["kind"] == "vacuum":
                continue
            con.sql(f"CREATE OR REPLACE TEMP TABLE before AS SELECT * FROM {t}")
            for stmt in op["ref"]:
                con.sql(stmt.replace("{T}", t))
            gen[t] += 1
            con.sql(f"CREATE TABLE {t}__v{gen[t]} AS SELECT * FROM {t}")
            n, b = con.sql(
                f"WITH up AS (SELECT * FROM {t} EXCEPT SELECT * FROM before), "
                f"gone AS (SELECT * FROM before WHERE doc_id NOT IN (SELECT doc_id FROM {t})), "
                f"ch AS (SELECT * FROM up UNION ALL SELECT * FROM gone) "
                f"SELECT count(*), coalesce(sum({ROW_BYTES}), 0) FROM ch").fetchone()
            changed[op["id"]] = (int(n), int(b))
            continue
        if op["id"] not in ran:
            continue
        got = reads.get(op["id"])
        if got is None:
            failed[op["id"]] = "read returned nothing"
        elif op["kind"] == "describe_history":
            gens = sorted(int(r[0]) for r in got)
            if gens != sorted(op["live"]):
                failed[op["id"]] = f"history lists generations {gens}, expected {op['live']}"
        else:
            want = con.sql(op["ref"].replace("{T}", t)).fetchall()
            if not same_rows(got, want):
                failed[op["id"]] = f"result differs from the reference ({len(got)} vs {len(want)} rows)"
    end = {}
    for name, t in names.items():
        tip = Path(out) / f"tip_{name}"
        if not tip.exists():
            end[f"tip_{name}"] = "no tip dump"
        else:
            d = con.sql(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM '{tip}/*.parquet' EXCEPT ALL "
                f"SELECT * FROM {t})) + (SELECT count(*) FROM (SELECT * FROM {t} EXCEPT ALL "
                f"SELECT * FROM '{tip}/*.parquet'))").fetchone()[0]
            end[f"tip_{name}"] = f"{d} rows differ from the replayed tip" if d else None
        rows = record["facts"].get(f"check_{name}")
        bad = [r for r in rows or [] if r[1] != "ok"]
        end[f"check_table_{name}"] = ("CHECK TABLE did not run" if rows is None else
                                      f"CHECK TABLE failed: {bad}" if bad else None)
    return {"failed": failed, "end": end, "changed": changed}


# The stub decoders' definition of an extraction row (perfbench compares
# Extraction.extractAll against it): csv has no decoder.
EXTRACT_SQL = """
SELECT doc_id,
       (['biologic-mpr','example-xy','nexus-hdf5','csv'])[CAST(doc_id % 4 + 1 AS INT)] AS filetype_id,
       CASE WHEN doc_id % 4 = 3 THEN 'no_decoder' ELSE 'ok' END AS status,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE len(string_split(text, ' ')) END AS INT) AS n_tokens,
       CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE length(text) END AS INT) AS n_bytes,
       CASE WHEN doc_id % 4 = 3 THEN '' ELSE md5(text) END AS checksum
FROM documents"""


def _frames_equal(got, want):
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    keys = list(got.columns)
    srt = lambda df: df.assign(_k=df.astype(str).agg("|".join, axis=1)).sort_values("_k") \
        .drop(columns="_k").reset_index(drop=True)
    got, want = srt(got), srt(want)
    for c in keys:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" and b.dtype.kind == "f":
            eq = pd.Series(a.to_numpy().astype(np.float64).view(np.uint64) ==
                           b.to_numpy().astype(np.float64).view(np.uint64))
        else:
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).to_numpy().argmax())
            return f"{c}[{i}]: {a[i]!r} != {b[i]!r} ({int((~eq).sum())} rows differ)"
    return None


def batch(inputs, out, record):
    con = duckdb.connect()
    corpus = Path(inputs) / "corpus"
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus / t}.parquet'")
    oracle = record["facts"].get("oracle_sql", {})
    reads = load_reads(out)
    failed, end = {}, {}
    refs = {}
    ok_rows = all_rows = 0
    ran = {o["id"] for o in record["ops"]}
    for op in _ops(inputs):
        if op["id"] not in ran:
            continue
        d = Path(out) / f"refresh_{op['block']}"
        if op["cls"] == "w":
            if op["kind"] == "sigstore":
                continue  # read by d23, whose output is checked
            if op["kind"] == "extract_all":
                sql = EXTRACT_SQL
            else:
                name = op["sql"]
                if name not in oracle:
                    failed[op["id"]] = f"no oracle SQL for {name}"
                    continue
                sql = oracle[name]
            ref = f"ref_{op['kind']}_{op['block']}"
            con.sql(f"CREATE TABLE {ref} AS {sql}")
            refs[(op["kind"], op["block"])] = ref
            outdir = d / op["kind"]
            if not outdir.exists():
                failed[op["id"]] = "no output written"
                continue
            got = con.sql(f"SELECT * FROM '{outdir}/*.parquet'").df()
            why = _frames_equal(got, con.sql(f"SELECT * FROM {ref}").df())
            if why:
                failed[op["id"]] = why
            if op["kind"] == "extract_all":
                all_rows += len(got)
                ok_rows += int((got["status"] == "ok").sum())
        else:
            ref = refs.get((op["table"], op["block"]))
            got = reads.get(op["id"])
            if ref is None or got is None:
                failed[op["id"]] = "lookup has no result or no reference"
                continue
            want = con.sql(op["sql"].replace("{O}", ref)).fetchall()
            if not same_rows(got, want):
                failed[op["id"]] = f"lookup differs from the reference ({len(got)} vs {len(want)} rows)"
    return {"failed": failed, "end": end, "extract_ok": ok_rows, "extract_rows": all_rows}
