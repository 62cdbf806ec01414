"""Seeded input generators, one per workload.

Every generator takes the seed as an argument and writes parquet files
under `out`; the same seed gives byte-identical inputs. Nothing is cached
between runs: each run generates its inputs afresh, so every run pays the
same set-up. The sizes below are the benchmark's fixed input make-up
(README "Inputs").
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# etl_reports: orders/events-shaped raw tables (the shape graft.Derive maps
# onto the reference's stg_accounts / stg_activities).
ETL_ORDERS = 20_000
ETL_CUSTOMERS = 2_000
ETL_USERS = 200            # accounts >= this id have no activities at all
ETL_EVENTS = 20_000
ETL_PARTS = 4              # files per table, so scans split across cores

# table_commits: one keyed table and a pre-generated sequence of rounds.
TC_ROWS = 5_000
TC_GROUPS = 64
TC_ROUNDS = 48             # more rounds than any run can reach
TC_APPEND = 175
TC_UPSERT_UPD, TC_UPSERT_INS = 75, 25   # keyed batch of the merge or upsertDV
TC_DELETE = 200            # keeps the live row count steady

# curation: a corpus with planted exact and near duplicates and planted
# vector neighbourhoods, an increment, and a fixed query batch.
CU_DOCS = 600
CU_EXACT_CLUSTERS = 15     # each 2-4 identical copies of one base doc
CU_NEAR_DUPS = 30          # copies with one word replaced
CU_INCREMENT = 100
CU_INC_EXACT = 10          # increment docs that copy a corpus doc
CU_VOCAB = 3_000
CU_DIM = 16
CU_CENTRES = 24
CU_QUERIES = 1             # per index (IVF and BM25)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _write_parts(path, cols, parts):
    """A table as a directory of `parts` parquet files (row ranges)."""
    os.makedirs(path)
    t = pa.table(cols)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def parquet_bytes(cols):
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), buf)
    return buf.getvalue().size


def etl_reports(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = ETL_ORDERS
    order_epoch = np.datetime64("1992-01-01T00:00:00", "us")
    _write_parts(os.path.join(out, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, ETL_CUSTOMERS, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n, p=[0.49, 0.49, 0.02])),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(order_epoch + rng.integers(0, 2400, n) * np.timedelta64(86_400_000_000, "us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    }, ETL_PARTS)
    m = ETL_EVENTS
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(1, 300_000_000, m)).astype("timedelta64[us]")
    _write_parts(os.path.join(out, "events.parquet"), {
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, ETL_USERS, m, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error", "logout"], m)),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, m), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]),
    }, ETL_PARTS)


def _tc_rows(rng, ids):
    k = len(ids)
    return {
        "id": np.asarray(ids, dtype=np.int64),
        "grp": rng.integers(0, TC_GROUPS, k, dtype=np.int32),
        "val": rng.integers(0, 1_000_000, k, dtype=np.int64),
        "tag": np.array([f"t{x}" for x in rng.integers(0, 1000, k)]),
    }


def table_commits(out, seed):
    """The base table and, per round, an append batch, a keyed batch (the
    round's merge or upsertDV) and a delete roster.

    Batches are generated against a simulated live-key set, so a keyed
    batch updates keys that are live when it runs and a delete roster names
    only live keys. The checker replays the same batches on its own keyed
    model; the program never sees this simulation.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    live = list(range(TC_ROWS))
    next_id = TC_ROWS
    _write(os.path.join(out, "base.parquet"), _tc_rows(rng, live))
    batches = {k: [] for k in ("append", "upsert", "delete")}
    update_groups = []
    submitted = []

    def fresh(k):
        nonlocal next_id
        ids = list(range(next_id, next_id + k))
        next_id += k
        return ids

    def pick(k):
        idx = rng.choice(len(live), k, replace=False)
        return [live[i] for i in sorted(idx)]

    def add(kind, r, ids):
        rows = _tc_rows(rng, ids)
        rows["round"] = np.full(len(ids), r, dtype=np.int32)
        batches[kind].append(rows)

    for r in range(TC_ROUNDS):
        ins = fresh(TC_APPEND)
        add("append", r, ins)
        live.extend(ins)
        upd, ins = pick(TC_UPSERT_UPD), fresh(TC_UPSERT_INS)
        add("upsert", r, upd + ins)
        live.extend(ins)
        gone = pick(TC_DELETE)
        add("delete", r, gone)
        gone = set(gone)
        live = [i for i in live if i not in gone]
        update_groups.append(int(rng.integers(0, TC_GROUPS)))
        submitted.append(sum(parquet_bytes({c: v for c, v in batches[k][-1].items() if c != "round"})
                             for k in ("append", "upsert")))
    # one row per line: verb batch, round, id, grp, val, tag
    with open(os.path.join(out, "batches.tsv"), "w") as f:
        for kind, parts in batches.items():
            for p in parts:
                for i, g, v, t, r in zip(p["id"], p["grp"], p["val"], p["tag"], p["round"]):
                    f.write(f"{kind}\t{r}\t{i}\t{g}\t{v}\t{t}\n")
    with open(os.path.join(out, "rounds.json"), "w") as f:
        json.dump({"update_groups": update_groups, "submitted_bytes": submitted}, f)


def _doc_text(rng, zipf_p, n_words):
    return " ".join(f"w{w}" for w in rng.choice(CU_VOCAB, n_words, p=zipf_p))


def curation(out, seed):
    """Corpus, increment and queries with planted structure.

    - exact-duplicate clusters: copies of one base text under fresh ids;
    - near duplicates: a base text with one word replaced;
    - vectors: noisy points around fixed centres, so a query's exact
      neighbours sit in one or two IVF lists;
    - increment: new docs, some of them exact copies of corpus docs.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ranks = np.arange(1, CU_VOCAB + 1, dtype=np.float64)
    zipf_p = (1.0 / ranks) / np.sum(1.0 / ranks)
    centres = rng.normal(0.0, 1.0, (CU_CENTRES, CU_DIM))

    def vec():
        c = centres[rng.integers(0, CU_CENTRES)]
        return (c + rng.normal(0.0, 0.25, CU_DIM)).round(6).tolist()

    texts = [_doc_text(rng, zipf_p, int(rng.integers(30, 60))) for _ in range(CU_DOCS)]
    ids = list(range(CU_DOCS))
    vecs = [vec() for _ in range(CU_DOCS)]
    clusters = []
    bases = rng.choice(CU_DOCS, CU_EXACT_CLUSTERS + CU_NEAR_DUPS, replace=False)
    next_id = CU_DOCS
    for b in bases[:CU_EXACT_CLUSTERS]:
        members = [int(b)]
        for _ in range(int(rng.integers(1, 4))):
            ids.append(next_id)
            texts.append(texts[b])
            vecs.append(vecs[b])
            members.append(next_id)
            next_id += 1
        clusters.append(members)
    for b in bases[CU_EXACT_CLUSTERS:]:
        words = texts[b].split(" ")
        words[int(rng.integers(0, len(words)))] = f"w{int(rng.integers(0, CU_VOCAB))}"
        ids.append(next_id)
        texts.append(" ".join(words))
        vecs.append(vecs[b])
        next_id += 1
    _write(os.path.join(out, "corpus.parquet"), {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
    })
    inc_ids, inc_texts, inc_vecs = [], [], []
    copied = rng.choice(CU_DOCS, CU_INC_EXACT, replace=False)
    inc_base = 1_000_000
    for i in range(CU_INCREMENT):
        inc_ids.append(inc_base + i)
        if i < CU_INC_EXACT:
            inc_texts.append(texts[copied[i]])
            inc_vecs.append(vecs[copied[i]])
        else:
            inc_texts.append(_doc_text(rng, zipf_p, int(rng.integers(30, 60))))
            inc_vecs.append(vec())
    _write(os.path.join(out, "increment.parquet"), {
        "doc_id": pa.array(inc_ids, pa.int64()),
        "text": pa.array(inc_texts),
        "embedding": pa.array(inc_vecs, pa.list_(pa.float64())),
    })
    # queries use negative ids so no query can match itself as a document;
    # one per line: index, query id, terms (BM25) or vector (IVF)
    with open(os.path.join(out, "queries.tsv"), "w") as f:
        for q in range(CU_QUERIES):
            words = rng.choice(np.arange(20, 400), 3, replace=False)
            f.write(f"bm25\t{-(q + 1)}\t{' '.join(f'w{w}' for w in words)}\n")
        for q in range(CU_QUERIES):
            f.write(f"ivf\t{-(q + 1)}\t{','.join(repr(x) for x in vec())}\n")
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump({"exact_clusters": clusters,
                   "increment_copies": list(range(inc_base, inc_base + CU_INC_EXACT))}, f)


GENERATORS = {"etl_reports": etl_reports, "table_commits": table_commits,
              "curation": curation}
# the benchmark's workloads, each made of parts that share one JVM and
# run one after another in every round; each part's inputs go to out/<part>
WORKLOADS = {"etl_curation": ("etl_reports", "curation"), "table_commits": ("table_commits",)}


def generate(workload, out, seed):
    for part in WORKLOADS[workload]:
        GENERATORS[part](os.path.join(out, part), seed)
