"""Seeded input generator for the graft benchmark.

Everything a run feeds the engine comes from here: the parquet corpora and
the op script (one JSON object per op). The same seed gives byte-identical
files; `generate` returns the sha256 over them so a run records exactly
which inputs it measured.

An op script is a sequence of fixed-composition blocks: the seed chooses
ids, values, predicates, versions and the order inside a block, never the
block's mix of op kinds. A run therefore sees the same mix of statement
kinds on every seed, and a latency median moves only when the engine does.
"""
import hashlib
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seed for checking a future claim on inputs nothing was tuned on.
HELDOUT_SEED = 7919

VOCAB = ("the a hash join window agg stream vector scan slow fast batch part "
         "spark line column order small sort value group filter query big key "
         "row table merge data customer index cache page block shard").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Input properties per workload. `tiny` is the self-test size.
SIZES = {
    "full": {"lifecycle_docs": 4000, "sources": 4, "batch_docs": 1000,
             "batch_vecs": 700, "dim": 64, "labels": 10, "lookups": 16},
    "tiny": {"lifecycle_docs": 300, "sources": 3, "batch_docs": 300,
             "batch_vecs": 200, "dim": 16, "labels": 4, "lookups": 4},
}
WIDE_MOD = 67             # `doc_id % 67 = r` reaches every (partition, bucket) pair
NEAR_DUP_RATE = 0.05      # planted near-duplicate documents and vectors
# versioned reads per table and block: (kind, at the tip, at an older generation)
MOR_READS = [("read_agg", 2, 1), ("read_point", 1, 2), ("read_summary", 1, 1)]
BLOCK_SECONDS = {"lifecycle_cow_write": 10.0, "lifecycle_mor_read": 10.0,
                 "batch_refresh": 30.0}
MOR_HISTORY = 1           # MOR generations per table built during set-up


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _text(rng, lo, hi):
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi))))


def _docs_table(rng, ids, sources):
    texts = [_text(rng, 8, 60) for _ in ids]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P).tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, sources, len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _sq(s):
    return "'" + s.replace("'", "''") + "'"


def _ids(xs):
    return ", ".join(str(int(x)) for x in xs)


class _Table:
    """Generator-side model of one lifecycle table: live keys, their
    partition, and the generation chain the engine will number."""

    def __init__(self, name, docs):
        self.name = name
        self.src = dict(zip(docs.column("doc_id").to_pylist(),
                            docs.column("source").to_pylist()))
        self.tip = 0
        self.live = [0]
        self.next_id = 10_000_000 if name == "F" else 20_000_000

    def commit(self):
        self.tip += 1
        self.live.append(self.tip)

    def vacuum(self, k):
        self.live = [g for g in self.live if g > self.tip - k]

    def pick(self, rng, n, source=None):
        pool = sorted(i for i, s in self.src.items()
                      if source is None or s == source)
        return [int(x) for x in rng.choice(pool, n, replace=False)]


class _Script:
    def __init__(self):
        self.ops = []

    def add(self, block, kind, cls, table, sql, ref, **extra):
        op = {"id": len(self.ops), "block": block, "kind": kind, "cls": cls,
              "table": table, "sql": sql, "ref": ref}
        op.update(extra)
        self.ops.append(op)


def _write_op(rng, t, kind, wide, sources, tag):
    """A seeded write of `kind` on table model `t`: (sql, ref statements,
    api spec or None). Mutates the model as the engine will."""
    if wide:
        r = int(rng.integers(0, WIDE_MOD))
        where = f"doc_id % {WIDE_MOD} = {r}"
        hit = [i for i in t.src if i % WIDE_MOD == r]
    else:
        hit = t.pick(rng, 3)
        where = f"doc_id IN ({_ids(hit)})"
    api = None
    if kind in ("sql_update", "api_update"):
        lang = _sq(f"u{tag}")
        sql = f"UPDATE {{T}} SET lang = {lang}, n_chars = n_chars + 1 WHERE {where}"
        ref = [sql]
        if kind == "api_update":
            api = {"where": where,
                   "set": {"lang": lang, "n_chars": "n_chars + 1"}}
    elif kind == "sql_move":
        dst = f"src{int(rng.integers(0, sources))}"
        sql = f"UPDATE {{T}} SET source = {_sq(dst)} WHERE {where}"
        ref = [sql]
        for i in hit:
            t.src[i] = dst
    elif kind == "sql_delete":
        sql = f"DELETE FROM {{T}} WHERE {where}"
        ref = [sql]
        for i in hit:
            del t.src[i]
    elif kind == "sql_merge":
        old = t.pick(rng, 2)
        new = t.next_id
        t.next_id += 1
        v = _sq(f"m{tag}")
        rows = ", ".join(f"(CAST({i} AS BIGINT), {v})" for i in old + [new])
        src = f"SELECT * FROM (VALUES {rows}) AS s(doc_id, lang)"
        sql = (f"MERGE INTO {{T}} t USING ({src}) s ON t.doc_id = s.doc_id "
               "WHEN MATCHED THEN UPDATE SET lang = s.lang "
               "WHEN NOT MATCHED THEN INSERT (doc_id, text, lang, source, n_chars) "
               "VALUES (s.doc_id, 'merged row', s.lang, 'src0', CAST(10 AS BIGINT))")
        ref = [f"UPDATE {{T}} SET lang = s.lang FROM ({src}) s "
               f"WHERE {{T}}.doc_id = s.doc_id",
               f"INSERT INTO {{T}} VALUES (CAST({new} AS BIGINT), 'merged row', "
               f"{v}, 'src0', CAST(10 AS BIGINT))"]
        t.src[new] = "src0"
    elif kind == "sql_insert":
        rows = []
        for _ in range(3):
            i = t.next_id
            t.next_id += 1
            s = f"src{int(rng.integers(0, sources))}"
            txt = _text(rng, 4, 12)
            rows.append(f"(CAST({i} AS BIGINT), {_sq(txt)}, 'en', {_sq(s)}, "
                        f"CAST({len(txt)} AS BIGINT))")
            t.src[i] = s
        sql = ("INSERT INTO {T} (doc_id, text, lang, source, n_chars) VALUES "
               + ", ".join(rows))
        ref = [sql]
    else:
        raise ValueError(kind)
    t.commit()
    return sql, ref, api


def _tip_read():
    sql = ("SELECT source, lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS c "
           "FROM {T} GROUP BY source, lang")
    return sql, sql


# The writes of one lifecycle_cow_write block, per table. The wide ones
# (`doc_id % WIDE_MOD = r`) reach every (partition, bucket) pair; a move
# on the partitioned table crosses partitions.
COW_BLOCK = {"F": ["sql_update", "api_update", "sql_delete", "sql_merge"],
             "P": ["sql_update", "api_update", "sql_move", "sql_insert"]}
COW_WIDE = {"sql_delete", "sql_move"}


def cow_script(rng, size, blocks, docs):
    """lifecycle_cow_write: per block, the COW_BLOCK writes in seeded order,
    each followed by a tip read of its table; then VACUUM RETAIN 2
    GENERATIONS and a tip read per table. A table's SQL UPDATE and its
    layout-API apply draw their keys from one seed: the same changeset
    shape through both paths."""
    tables = {"F": _Table("F", docs), "P": _Table("P", docs)}
    sc = _Script()
    # warm-up (block -1): the SQL DML rule, the flat and the partitioned apply
    for name, kind in (("P", "sql_update"), ("F", "api_update")):
        sql, ref, api = _write_op(rng, tables[name], kind, False, size["sources"], "w" + name)
        sc.add(-1, kind, "w", name, sql, ref, api=api, wide=False)
    for name in ("F", "P"):
        sc.add(-1, "read_tip", "r", name, *_tip_read())
    for b in range(blocks):
        shapes = {name: int(rng.integers(0, 1 << 30)) for name in COW_BLOCK}
        slots = [(name, kind) for name, kinds in COW_BLOCK.items() for kind in kinds]
        # wide writes run in the first half, so the two generations VACUUM
        # keeps (and so space_amp) never depend on where the seed put them
        order = sorted(rng.permutation(len(slots)).tolist(),
                       key=lambda j: slots[j][1] not in COW_WIDE)
        half = len(order) // 2
        order = rng.permutation(order[:half]).tolist() + order[half:]
        for j in order:
            name, kind = slots[j]
            shared = kind in ("sql_update", "api_update")
            r = np.random.default_rng(shapes[name]) if shared else rng
            sql, ref, api = _write_op(r, tables[name], kind, kind in COW_WIDE,
                                      size["sources"], f"{b}{name}")
            sc.add(b, kind, "w", name, sql, ref, api=api, wide=kind in COW_WIDE)
            sc.add(b, "read_tip", "r", name, *_tip_read())
        for name in rng.permutation(["F", "P"]).tolist():
            tables[name].vacuum(2)
            sc.add(b, "vacuum", "w", name, "VACUUM {T} RETAIN 2 GENERATIONS", [],
                   live=list(tables[name].live))
            sc.add(b, "read_tip", "r", name, *_tip_read())
    return sc.ops, tables


def _versioned_read(rng, t, kind, at_tip, sources):
    v = t.tip if at_tip else int(rng.choice([g for g in t.live if g < t.tip]))
    frm = "{T}" if at_tip else f"{{T}} VERSION AS OF {v}"
    ref_frm = "{T}" if at_tip else f"{{T}}__v{v}"
    if kind == "read_agg":
        s = _sq(f"src{int(rng.integers(0, sources))}")
        q = ("SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS c "
             "FROM {F} WHERE source = " + s + " GROUP BY lang")
    elif kind == "read_point":
        ids = t.pick(rng, 2)
        q = ("SELECT doc_id, lang, source, n_chars, md5(text) AS h FROM {F} "
             f"WHERE doc_id IN ({_ids(ids)})")
    else:  # read_summary
        q = ("SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS c "
             "FROM {F} GROUP BY source")
    return q.replace("{F}", frm), q.replace("{F}", ref_frm), v


def mor_script(rng, size, blocks, docs):
    """lifecycle_mor_read: set-up history of MOR writes, then per block
    and table 9 reads (aggregate, point and summary reads, each at the tip
    or at a seeded older generation, plus DESCRIBE HISTORY) and one
    partition-confined trickle, an UPDATE on one table and a DELETE on the
    other; each block ends with OPTIMIZE + VACUUM on one table. The tables
    swap roles from block to block."""
    tables = {"F": _Table("F", docs), "P": _Table("P", docs)}
    sources = size["sources"]
    hist = _Script()
    for h in range(MOR_HISTORY):
        for name in ("F", "P"):
            kind = ["sql_update", "sql_delete"][h % 2]
            sql, ref, _ = _write_op(rng, tables[name], kind, False, sources, f"h{h}{name}")
            hist.add(-1, kind, "w", name, sql, ref)
    for name in ("F", "P"):
        q, ref, v = _versioned_read(rng, tables[name], "read_agg", True, sources)
        hist.add(-1, "read_agg", "r", name, q, ref, version=v, at_tip=True)
    sc = _Script()
    sc.ops = hist.ops
    for b in range(blocks):
        for name in rng.permutation(["F", "P"]).tolist():
            t = tables[name]
            slots = [("r", k, at) for k, n_tip, n_old in MOR_READS
                     for at in [True] * n_tip + [False] * n_old]
            slots += [("r", "describe_history", True), ("w", "mor_trickle", None)]
            for j in rng.permutation(len(slots)):
                cls, kind, at_tip = slots[j]
                if kind == "describe_history":
                    sc.add(b, kind, "r", name, "DESCRIBE HISTORY {T}", None,
                           live=list(t.live))
                elif kind == "mor_trickle":
                    s = f"src{int(rng.integers(0, sources))}"
                    ids = t.pick(rng, 3, source=s)
                    where = f"source = {_sq(s)} AND doc_id IN ({_ids(ids)})"
                    if (b + (name == "P")) % 2 == 0:
                        sql = (f"UPDATE {{T}} SET lang = {_sq('t' + str(b) + name)}, "
                               f"n_chars = n_chars + 2 WHERE {where}")
                    else:
                        sql = f"DELETE FROM {{T}} WHERE {where}"
                        for i in ids:
                            del t.src[i]
                    t.commit()
                    sc.add(b, kind, "w", name, sql, [sql])
                else:
                    at = at_tip or len(t.live) < 2
                    q, ref, v = _versioned_read(rng, t, kind, at, sources)
                    sc.add(b, kind, "r", name, q, ref, version=v, at_tip=at)
        name = "FP"[b % 2]
        tables[name].commit()
        sc.add(b, "optimize", "w", name, "OPTIMIZE {T}", [])
        tables[name].vacuum(2)
        sc.add(b, "vacuum", "w", name, "VACUUM {T} RETAIN 2 GENERATIONS", [],
               live=list(tables[name].live))
    return sc.ops, tables


STAGES = [  # (op kind, what the benchmark calls)
    ("dispatch", "r05_file_dispatch"),
    ("extract_query", "r06_batch_extract"),
    ("extract_all", "Extraction.extractAll"),
    ("sigstore", "SignatureStore.materialize"),
    ("dedup_d14", "d14_semdedup"),
    ("dedup_d17", "d17_soft_dedup_weight"),
    ("dedup_d23", "d23_central_representative"),
    ("dedup_d25", "d25_incremental_pairs"),
    ("similarity_s18", "s18_nn_descent"),
    ("similarity_s19", "s19_rrf_fusion"),
    ("text_t03", "t03_quality_score"),
]
LOOKUPS = {  # read ops over a refresh's outputs: kind -> (output, query)
    "lookup_extract": ("extract_all", "SELECT doc_id, filetype_id, status, n_tokens, "
                       "n_bytes, checksum FROM {O} WHERE doc_id IN ({ids})"),
    "lookup_dups": ("dedup_d25", "SELECT i, j, est_jaccard FROM {O} "
                    "WHERE i IN ({ids}) OR j IN ({ids})"),
    "lookup_quality": ("text_t03", "SELECT doc_id, quality FROM {O} WHERE doc_id IN ({ids})"),
    "lookup_dispatch": ("dispatch", "SELECT doc_id, extractor_id, status FROM {O} "
                        "WHERE doc_id IN ({ids})"),
}


def batch_script(rng, size, blocks, doc_ids):
    sc = _Script()
    kinds = sorted(LOOKUPS)
    for b in range(blocks):
        for kind, target in STAGES:
            sc.add(b, kind, "w", "-", target, None)
        for j in range(size["lookups"]):
            kind = kinds[j % len(kinds)]
            out, q = LOOKUPS[kind]
            ids = _ids(rng.choice(doc_ids, 3, replace=False))
            sc.add(b, kind, "r", out, q.replace("{ids}", ids), None)
    return sc.ops


def _batch_corpus(rng, size):
    n, e = size["batch_docs"], size["batch_vecs"]
    # ids sampled from [0, 4n): the filetype is doc_id % 4, so the mix of
    # extractable filetypes and the no-extractor one (csv) is seeded
    ids = np.sort(rng.choice(4 * n, n, replace=False))
    docs = _docs_table(rng, ids, 8)
    texts = docs.column("text").to_pylist()
    dup = rng.random(n) < NEAR_DUP_RATE
    for i in np.nonzero(dup)[0]:
        words = texts[int(rng.integers(0, n))].split(" ")
        for _ in range(max(1, len(words) // 20)):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(words)
    docs = docs.set_column(1, "text", pa.array(texts))
    docs = docs.set_column(4, "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    labels = rng.integers(0, size["labels"], e)
    centers = rng.normal(0, 1, (size["labels"], size["dim"]))
    vecs = centers[labels] + rng.normal(0, 0.6, (e, size["dim"]))
    vdup = np.nonzero(rng.random(e) < NEAR_DUP_RATE)[0]
    for i in vdup:
        vecs[i] = vecs[int(rng.integers(0, e))] + rng.normal(0, 0.01, size["dim"])
    emb = pa.table({
        "vec_id": pa.array(np.arange(e), pa.int64()),
        "embedding": pa.array([np.round(v, 4).astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    props = {"docs": n, "vectors": e, "dim": size["dim"],
             "mean_doc_chars": float(np.mean([len(t) for t in texts])),
             "near_dup_rate": float(dup.mean()),
             "vector_near_dup_rate": float(len(vdup) / e),
             "filetype_mix": {ft: float(np.mean(ids % 4 == k)) for k, ft in
                              enumerate(["biologic-mpr", "example-xy", "nexus-hdf5",
                                         "csv(no extractor)"])}}
    return docs, emb, props


def generate(workload, seed, seconds, out, tiny=False):
    """Write the workload's inputs under `out`; return (properties, sha256)."""
    size = SIZES["tiny" if tiny else "full"]
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(BLOCK_SECONDS).index(workload)])
    blocks = max(1, round(seconds / BLOCK_SECONDS[workload]))
    props = {"seed": seed, "blocks": blocks}
    if workload == "batch_refresh":
        docs, emb, p = _batch_corpus(rng, size)
        (out / "corpus").mkdir(exist_ok=True)
        _write(docs, out / "corpus" / "documents.parquet")
        _write(emb, out / "corpus" / "embeddings.parquet")
        ops = batch_script(rng, size, blocks, docs.column("doc_id").to_numpy())
        props.update(p)
    else:
        docs = _docs_table(rng, np.arange(size["lifecycle_docs"]), size["sources"])
        _write(docs, out / "docs.parquet")
        if workload == "lifecycle_cow_write":
            ops, _ = cow_script(rng, size, blocks, docs)
            w = [o for o in ops if o["cls"] == "w" and o["kind"] != "vacuum" and o["block"] >= 0]
            props["wide_write_share"] = sum(bool(o.get("wide")) for o in w) / len(w)
        else:
            ops, _ = mor_script(rng, size, blocks, docs)
            v = [o for o in ops if "at_tip" in o and o["block"] >= 0]
            props["tip_read_share"] = sum(o["at_tip"] for o in v) / len(v)
        props.update({"rows_per_table": size["lifecycle_docs"],
                      "partitions": size["sources"], "buckets": 16})
    props["ops"] = len(ops)
    with open(out / "ops.jsonl", "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
    # the JVM's view: id, kind, class, table, SQL (or stage), API spec
    with open(out / "ops.tsv", "w") as f:
        for op in ops:
            api = op.get("api") or {}
            sets = "\x1f".join(f"{c}={e}" for c, e in sorted(api.get("set", {}).items()))
            f.write("\t".join([str(op["id"]), str(op["block"]), op["kind"], op["cls"], op["table"],
                               op["sql"], api.get("where", ""), sets]) + "\n")
    h = hashlib.sha256()
    for p in sorted(out.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(out).as_posix().encode())
            h.update(p.read_bytes())
    return props, h.hexdigest()
