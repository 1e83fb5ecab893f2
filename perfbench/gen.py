"""Seeded input generation for the three workloads.

Every generated table keeps its source schema and the `<dir>/<table>.parquet`
layout, so the program receives only a directory. The same seed gives the
same bytes. Inputs are cached per (workload, seed) under the build dir.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DIMS = ["region", "nation", "customer", "supplier", "part"]
# fact table -> columns its rows may be clustered on
FACTS = {
    "lineitem": ["l_shipdate", "l_orderkey", "l_partkey", None],
    "orders": ["o_orderdate", "o_orderkey", "o_custkey", None],
    "events": ["ts", "user_id", None],
}

MOR_TABLES = 9          # more tables than the 8-entry mask cache holds
MOR_ROUNDS = 12         # rounds of one write per table; a 60 s run uses 8
MOR_COMPACT_EVERY = 3   # each table is compacted after every 3rd batch
CURATION_REPS = 2       # corpus replicas, as ScaleBench.ensureScaled derives them


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def _layout(table, rng, keys):
    """Seeded row order: clustered on a seed-chosen column with a seeded
    share of rows displaced, or fully shuffled."""
    n = table.num_rows
    key = keys[rng.integers(len(keys))]
    if key is None:
        return table.take(pa.array(rng.permutation(n))), "shuffled"
    order = np.array(pc.sort_indices(table, sort_keys=[(key, "ascending")]))
    noise = float(rng.choice([0.0, 0.05, 0.2]))
    moved = rng.random(n) < noise
    idx = np.flatnonzero(moved)
    order[idx] = order[rng.permutation(idx)]
    return table.take(pa.array(order)), f"{key}+{noise}"


def gen_analytics(src, dst, seed):
    rng = np.random.default_rng(seed)
    notes = {}
    for t in DIMS:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    for t, keys in FACTS.items():
        table, how = _layout(pq.read_table(f"{src}/{t}.parquet"), rng, keys)
        rg = max(1024, table.num_rows // int(rng.choice([2, 4, 8, 16])))
        _write(table, f"{dst}/{t}.parquet", row_group_size=rg)
        notes[t] = {"order": how, "row_group_rows": rg}
    return notes


def _edit_text(text, rng, light, vocab):
    words = text.split(" ")
    if light:
        # a near-duplicate: one word replaced
        if words:
            words[rng.integers(len(words))] = vocab[rng.integers(len(vocab))]
        return " ".join(words)
    # a distinct document over the same vocabulary
    return " ".join(words[i] for i in rng.permutation(len(words)))


def gen_curation(src, dst, seed):
    rng = np.random.default_rng(seed)
    docs = pq.read_table(f"{src}/documents.parquet")
    embs = pq.read_table(f"{src}/embeddings.parquet")
    near_dup = float(rng.choice([0.1, 0.2, 0.3, 0.4]))
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in texts[:500] for w in t.split(" ") if w})
    max_doc = pc.max(docs.column("doc_id")).as_py() + 1
    max_vec = pc.max(embs.column("vec_id")).as_py() + 1
    doc_parts, emb_parts = [docs], [embs]
    for rep in range(1, CURATION_REPS):
        light = rng.random(len(texts)) < near_dup
        new = [_edit_text(t, rng, bool(l), vocab) for t, l in zip(texts, light)]
        d = docs.set_column(docs.schema.get_field_index("doc_id"), "doc_id",
                            pc.add(docs.column("doc_id"), rep * max_doc))
        d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(new, pa.string()))
        d = d.set_column(d.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(t) for t in new], pa.int64()))
        doc_parts.append(d.cast(docs.schema))
        vecs = np.asarray(embs.column("embedding").to_pylist(), dtype=np.float32)
        close = rng.random(len(vecs)) < near_dup
        scale = np.where(close, 0.01, 0.5).astype(np.float32)[:, None]
        vecs = vecs + scale * rng.standard_normal(vecs.shape).astype(np.float32)
        e = embs.set_column(embs.schema.get_field_index("vec_id"), "vec_id",
                            pc.add(embs.column("vec_id"), rep * max_vec))
        e = e.set_column(e.schema.get_field_index("embedding"), "embedding",
                         pa.array(list(vecs), embs.schema.field("embedding").type))
        emb_parts.append(e.cast(embs.schema))
    _write(pa.concat_tables(doc_parts), f"{dst}/documents.parquet")
    _write(pa.concat_tables(emb_parts), f"{dst}/embeddings.parquet")
    return {"near_dup_rate": near_dup, "reps": CURATION_REPS}


MOR_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
# every round writes each table once, and the tables of each flavour take
# the same multiset of operations in a seeded order, so every pass carries
# the same mix. Tables written through the equality flavour (upsert_eq,
# erase) take no position upserts: a morUpsert after a morUpsertEq of the
# same key drops the key, because the file morUpsert appends gets no
# sequence number and the older equality tombstone masks it.
POSITION_OPS = ["upsert", "upsert", "sql_update", "sql_merge", "sql_delete"]
EQUALITY_OPS = ["upsert_eq", "erase", "delete_keys", "sql_merge"]


def gen_mor(src, dst, seed):
    rng = np.random.default_rng(seed)
    orders = pq.read_table(f"{src}/orders.parquet", columns=MOR_COLS)
    schema = orders.schema.remove_metadata()
    orders = orders.replace_schema_metadata(None)
    tables = [f"m{i}" for i in range(MOR_TABLES)]
    eq_tables = sorted(rng.choice(tables, size=len(EQUALITY_OPS), replace=False).tolist())
    keys = orders.column("o_orderkey").to_numpy()
    part = keys % MOR_TABLES
    live = {}
    os.makedirs(f"{dst}/base")
    for i, t in enumerate(tables):
        sl = orders.filter(pa.array(part == i))
        sl = sl.take(pc.sort_indices(sl, sort_keys=[("o_orderkey", "ascending")]))
        os.makedirs(f"{dst}/base/{t}.parquet")
        for f, chunk in enumerate(np.array_split(np.arange(sl.num_rows), 4)):
            _write(sl.take(pa.array(chunk)), f"{dst}/base/{t}.parquet/part-{f:05d}.parquet")
        rows = sl.to_pydict()
        live[t] = {k: (c, s, p) for k, c, s, p in zip(*(rows[c] for c in MOR_COLS))}
    os.makedirs(f"{dst}/feed0.parquet")
    _write(pa.table({"o_orderkey": pa.array([0], pa.int64()),
                     "step": pa.array([-1], pa.int64())}), f"{dst}/feed0.parquet/part-00000.parquet")
    os.makedirs(f"{dst}/batches")
    fresh = {t: 10_000_000 + i * 1_000_000 for i, t in enumerate(tables)}
    writes = {t: 0 for t in tables}
    steps = []
    for r in range(MOR_ROUNDS):
        eq_ops = list(rng.permutation(EQUALITY_OPS))
        pos_ops = list(rng.permutation(POSITION_OPS))
        for i, t in enumerate(tables):
            idx = len(steps)
            op = str(eq_ops.pop() if t in eq_tables else pos_ops.pop())
            m = int(rng.integers(150, 250))
            cur = live[t]
            pool = sorted(cur)
            pick = [pool[j] for j in rng.choice(len(pool), size=min(m, len(pool)), replace=False)]

            def price():
                return round(float(rng.uniform(100, 500000)), 2)

            def fresh_rows(n):
                out = []
                for _ in range(n):
                    fresh[t] += 1
                    out.append((fresh[t], int(rng.integers(1, 15000)), "O", price()))
                return out

            step = {"table": t, "op": op}
            if op in ("upsert", "upsert_eq"):
                n_old = int(len(pick) * 0.8)
                rows = [(k, cur[k][0], cur[k][1], price()) for k in pick[:n_old]]
                rows += fresh_rows(len(pick) - n_old)
                batch = {c: list(v) for c, v in zip(MOR_COLS, zip(*rows))}
                for k, c, s, pr in rows:
                    cur[k] = (c, s, pr)
            elif op in ("delete_keys", "sql_delete", "erase"):
                ks = pick if op != "erase" else pick[: max(1, len(pick) // 4)]
                batch = {"o_orderkey": ks}
                for k in ks:
                    del cur[k]
            elif op == "sql_update":
                delta = round(float(rng.uniform(1, 100)), 2)
                step["delta"] = delta
                batch = {"o_orderkey": pick}
                for k in pick:
                    c, s, pr = cur[k]
                    cur[k] = (c, s, pr + delta)
            else:  # sql_merge: matched deletes, matched updates, inserts
                n_del, n_upd = len(pick) // 5, (len(pick) * 3) // 5
                rows = [(k, cur[k][0], cur[k][1], price(), True) for k in pick[:n_del]]
                rows += [(k, cur[k][0], cur[k][1], price(), False)
                         for k in pick[n_del:n_del + n_upd]]
                rows += [r + (False,) for r in fresh_rows(len(pick) - n_del - n_upd)]
                batch = {c: list(v) for c, v in zip(MOR_COLS + ["del"], zip(*rows))}
                for k, c, s, pr, d in rows:
                    if d:
                        del cur[k]
                    else:
                        cur[k] = (c, s, pr)
            types = {f.name: f.type for f in schema}
            types["del"] = pa.bool_()
            tb = pa.table({c: pa.array(v, types[c]) for c, v in batch.items()})
            name = f"batches/s{idx:05d}.parquet"
            _write(tb, f"{dst}/{name}")
            step["batch"] = name
            step["batch_bytes"] = os.path.getsize(f"{dst}/{name}")
            writes[t] += 1
            step["compact"] = (writes[t] + i) % MOR_COMPACT_EVERY == 0
            reads = []
            if i % 2 == 1:
                reads.append({"kind": "sql", "table": tables[(i + 4) % MOR_TABLES]})
            if i % 4 == 2:
                reads.append({"kind": "version", "table": tables[(i + 2) % MOR_TABLES]})
            step["reads"] = reads
            steps.append(step)
    log = {"tables": tables, "eq_tables": eq_tables, "steps": steps}
    with open(f"{dst}/log.json", "w") as f:
        json.dump(log, f)
    return {"eq_tables": eq_tables, "steps": len(steps)}


GENERATORS = {"analytics_read": gen_analytics, "curation": gen_curation, "mor_churn": gen_mor}


def generate(workload, src, root, seed):
    """Return the input directory for (workload, seed), generating it once
    per version of this generator."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    dst = os.path.join(root, workload, f"seed{seed}_{version}")
    done = os.path.join(dst, "_GENERATED")
    if os.path.exists(done):
        return dst, None
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    notes = GENERATORS[workload](src, dst, seed)
    with open(done, "w") as f:
        json.dump(notes, f)
    return dst, notes
