"""Output checks, each against a computation made apart from the program.

- etl_reports: the three CSV reports and the five staged views equal DuckDB
  running the program's DuckDB-dialect twin SQL (graft.DeriveSql) on the
  same generated parquet; every staged view has a non-null account_id,
  unique in the four contact views; malformed activity dates parse to NULL.
- table_commits: a keyed model replays the round log (the generator's
  batches, in the order the program ran them) and must equal the head,
  sampled readVersions, one changeFeed window, and every in-round read.
- curation: each planted exact-duplicate cluster keeps one survivor, no
  planted increment copy survives, the published corpus holds exactly the
  indexed documents, BM25 top-k equals an exact BM25 computed
  here, IVF top-k scores are exact cosines and recall@k against a
  brute-force top-k is at least IVF_RECALL_FLOOR.

Every check also runs its self-test: the same comparison on a copy of the
program's output with one row changed must fail, or the check is broken.
"""
import collections
import glob
import json
import math
import os

import duckdb
import numpy as np

IVF_RECALL_FLOOR = 0.8


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def diff_rows(got, exp):
    """Rows in one multiset and not the other (0 when equal)."""
    g, e = collections.Counter(got), collections.Counter(exp)
    return sum(((g - e) + (e - g)).values())


def _self_test(name, compare, rows, problems, col=-1):
    """`compare(rows)` is 0 on the program's output; it must not be 0 on a
    copy with one row changed (column `col`)."""
    if not rows:
        problems.append(f"{name}: no rows to check")
        return
    bad = list(rows)
    r = list(bad[0])
    r[col] = r[col] + 1 if isinstance(r[col], (int, float)) and not isinstance(r[col], bool) else "perturbed"
    bad[0] = tuple(r)
    if compare(bad) == 0:
        problems.append(f"{name}: self-test did not reject a changed row")


def _canon(rel):
    """Rows of a DuckDB relation as tuples of normalized strings, columns
    in name order."""
    cols = sorted(rel.columns)
    return cols, [tuple(_norm(v) for v in row) for row in rel.select(*[f'"{c}"' for c in cols]).fetchall()]


# ---------------------------------------------------------------- etl_reports

def check_etl(res, inputs, problems):
    out = res["outputs"]["out"]
    con = duckdb.connect()
    for t in ("orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    for name, q in sql["report"].items():
        exp = con.sql(q)
        types = dict(zip(exp.columns, [str(t) for t in exp.types]))
        csv = glob.glob(os.path.join(res["outputs"]["csv"], name, "*.csv"))
        got = con.sql(f"SELECT * FROM read_csv({csv!r}, header=true, all_varchar=true)")
        if got.columns != exp.columns:
            problems.append(f"{name}: CSV columns {got.columns} != {exp.columns}")
            continue
        floats = [i for i, c in enumerate(exp.columns) if types[c] in ("DOUBLE", "FLOAT")]

        def fix(row):
            return tuple(_norm(float(v)) if i in floats and v is not None else v
                         for i, v in enumerate(row))
        exp_rows = [tuple(_norm(v) for v in r) for r in exp.fetchall()]
        got_rows = [fix(r) for r in got.fetchall()]
        n = diff_rows(got_rows, exp_rows)
        if n or not exp_rows:
            problems.append(f"{name}: {n} rows differ from DuckDB ({len(got_rows)} vs {len(exp_rows)})")
        _self_test(name, lambda rows: diff_rows(rows, exp_rows), got_rows, problems)
    for name, q in sql["view"].items():
        got = con.sql(f"SELECT * FROM read_parquet('{out}/views/{name}/*.parquet')")
        cols, got_rows = _canon(got)
        ecols, exp_rows = _canon(con.sql(q))
        n = diff_rows(got_rows, exp_rows) if cols == ecols else -1
        if n:
            problems.append(f"view {name}: {n} rows differ from DuckDB")
        _self_test(f"view {name}", lambda rows: diff_rows(rows, exp_rows), got_rows, problems)
        k = cols.index("account_id")
        keys = [r[k] for r in got_rows]

        # clean_accounts keeps every operation of an account (the reference's
        # design); the four contact views are one row per account
        unique = name != "clean_accounts"

        def key_faults(ks):
            return (len(ks) - len(set(ks))) * unique + sum(1 for x in ks if x is None)
        if key_faults(keys):
            problems.append(f"view {name}: account_id not {'unique and ' * unique}non-null")
        if keys and key_faults([None] + keys[1:]) == 0:
            problems.append(f"view {name}: self-test did not reject a NULL account_id")
    pre = con.sql(f"SELECT src_seq, activity_date FROM read_parquet('{out}/primary_pre/*.parquet')").fetchall()
    malformed = con.sql("SELECT count(*) FROM events WHERE event_id % 19 = 0").fetchone()[0]

    def date_faults(rows):
        bad = sum(1 for s, d in rows if (s % 19 == 0) != (d is None))
        return bad + abs(sum(1 for s, _ in rows if s % 19 == 0) - malformed)
    if date_faults(pre) or not malformed:
        problems.append("malformed activity dates do not all parse to NULL")
    if pre and date_faults([(pre[0][0], None if pre[0][1] is not None else "x")] + pre[1:]) == 0:
        problems.append("malformed dates: self-test did not reject a changed row")


# -------------------------------------------------------------- table_commits

class KeyedModel:
    """The table as {id: (id, grp, val, tag)}, one state per version."""

    def __init__(self, inputs):
        self.inputs = inputs
        self.batches = {}
        for line in open(os.path.join(inputs, "batches.tsv")):
            kind, r, i, g, v, t = line.rstrip("\n").split("\t")
            self.batches.setdefault((kind, int(r)), []).append((int(i), int(g), int(v), t))
        base = duckdb.sql(f"SELECT id, grp, val, tag FROM '{inputs}/base.parquet'").fetchall()
        self.state = {r[0]: tuple(r) for r in base}
        self.groups = json.load(open(os.path.join(inputs, "rounds.json")))["update_groups"]
        self.versions = {}

    def apply(self, r, op):
        s = self.state
        if op == "append":
            for row in self.batches[("append", r)]:
                s[row[0]] = row
        elif op == "merge":
            for row in self.batches[("upsert", r)]:
                s[row[0]] = (row[0], s[row[0]][1], row[2], row[3]) if row[0] in s else row
        elif op == "upsert":
            for row in self.batches[("upsert", r)]:
                s[row[0]] = row
        elif op == "delete":
            for row in self.batches[("delete", r)]:
                s.pop(row[0], None)
        elif op == "update":
            g = self.groups[r]
            for k, row in list(s.items()):
                if row[1] == g:
                    s[k] = (row[0], row[1], row[2] + 1, row[3])


def _rows(path):
    return [tuple(r) for r in duckdb.sql(
        f"SELECT id, grp, val, tag FROM read_parquet('{path}/*.parquet')").fetchall()]


def feed_faults(rows, a, b):
    """Rows by which a change feed's net inserts minus deletes differ from
    the change between model states `a` and `b`."""
    net = collections.Counter(b.values())
    net.subtract(collections.Counter(a.values()))
    for r in rows:
        net[tuple(r[:4])] -= 1 if r[4] == "insert" else -1
    return sum(abs(x) for x in net.values())


def check_table(res, inputs, problems):
    o = res["outputs"]
    model = KeyedModel(inputs)
    commits = {"append", "merge", "upsert", "delete", "update", "compact"}
    for e in o["log"]:
        r, op, v = e["round"], e["op"], e["version"]
        if op == "create" or op in commits:
            model.apply(r, op)
            model.versions[v] = dict(model.state)
        elif op == "read_snapshot":
            exp = (len(model.state), sum(x[2] for x in model.state.values()))
            if (e["count"], e["sum"]) != exp:
                problems.append(f"round {r} snapshot read {e['count']},{e['sum']} != model {exp}")
        elif op == "read_point":
            row = model.state.get(e["key"])
            exp = [[str(x) for x in row]] if row else []
            if e["rows"] != exp:
                problems.append(f"round {r} point read {e['rows']} != model {exp}")
        elif op == "read_feed":
            rows = [(int(i), int(g), int(v), t, c) for i, g, v, t, c in e["rows"]]
            n = feed_faults(rows, model.versions[e["from"]], model.versions[e["to"]])
            if n:
                problems.append(f"round {r} change feed {e['from']}..{e['to']}: {n} net rows differ")
        elif op == "read_as_of":
            st = model.versions[v]
            exp = (len(st), sum(x[2] for x in st.values()))
            if (e["count"], e["sum"]) != exp:
                problems.append(f"round {r} as-of read of {v}: {e['count']},{e['sum']} != model {exp}")
    out = o["out"]
    targets = [("head", out + "/head", o["head"])] + [
        (f"version {v}", f"{out}/versions/{v}", v) for v in o["versions"]]
    for name, path, v in targets:
        exp = list(model.versions[v].values())
        got = _rows(path)
        if diff_rows(got, exp):
            problems.append(f"{name}: {diff_rows(got, exp)} rows differ from the replayed model")
        _self_test(name, lambda rows: diff_rows(rows, exp), got, problems)
    feed = duckdb.sql(f"SELECT id, grp, val, tag, change_type FROM read_parquet('{out}/feed/*.parquet')").fetchall()
    a, b = model.versions[o["feed_from"]], model.versions[o["feed_to"]]
    if feed_faults(feed, a, b):
        problems.append(f"change feed {o['feed_from']}..{o['feed_to']}: {feed_faults(feed, a, b)} net rows differ")
    _self_test("change feed", lambda rows: feed_faults(rows, a, b), [tuple(r) for r in feed], problems, col=2)


# ------------------------------------------------------------------- curation

def exact_bm25(con, doc_ids, queries, k):
    """BM25 (k1 = 1.2, b = 0.75) in the program's integer fixed point, over
    the documents `doc_ids`, computed from the raw texts."""
    con.execute("CREATE OR REPLACE TEMP TABLE d AS SELECT doc_id, text FROM docs WHERE doc_id IN (SELECT unnest(?))",
                [list(doc_ids)])
    return con.execute(f"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
      dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
      post AS (SELECT doc_id, word, count(*)::BIGINT AS tf
               FROM (SELECT doc_id, unnest(w) AS word FROM tok) GROUP BY ALL),
      df AS (SELECT word, count(*)::BIGINT AS df FROM post GROUP BY word),
      st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS l FROM dl),
      q AS (SELECT * FROM (VALUES {", ".join(f"({q}, '{w}')" for q, w in queries)}) t(query_id, word)),
      scored AS (
        SELECT q.query_id, p.doc_id,
          sum((((2 * (st.n - df.df) + 1) * 1000) // (2 * df.df + 1)) * p.tf * 2200000
              // (p.tf * 1000000 + 300000 + (900000 * dl.dl * st.n) // st.l)) AS score
        FROM q JOIN post p USING (word) JOIN df USING (word) JOIN dl USING (doc_id), st
        WHERE q.query_id <> p.doc_id GROUP BY ALL)
      SELECT query_id, rank, doc_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM scored) WHERE rank <= {k}""").fetchall()


def check_curation(res, inputs, problems):
    out = res["outputs"]["out"]
    planted = json.load(open(os.path.join(inputs, "planted.json")))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{inputs}/corpus.parquet' "
                f"UNION ALL SELECT * FROM '{inputs}/increment.parquet'")
    ivf = con.sql(f"SELECT vec_id, gen FROM read_parquet('{out}/plain/lists/*.parquet')").fetchall()
    s0 = {i for i, g in ivf if g == 0}
    s1 = {i for i, g in ivf if g == 1}

    def cluster_faults(survivors):
        return sum(1 for c in planted["exact_clusters"] if len(survivors & set(c)) != 1)
    if cluster_faults(s0):
        problems.append(f"{cluster_faults(s0)} planted exact-duplicate clusters do not keep one survivor")
    c0 = planted["exact_clusters"][0]
    if cluster_faults(s0 | set(c0)) == 0:
        problems.append("dedup: self-test did not reject a cluster with every copy kept")
    inc = {r[0] for r in con.sql(f"SELECT doc_id FROM '{inputs}/increment.parquet'").fetchall()}
    copies = set(planted["increment_copies"])
    if s1 != inc - copies:
        problems.append(f"increment survivors: {len(s1 & copies)} planted copies kept, "
                        f"{len(inc - copies - s1)} fresh docs dropped")
    published = {r[0] for r in con.sql(f"SELECT doc_id FROM read_parquet('{out}/curated/*.parquet')").fetchall()}

    def publish_faults(ids):
        return len(ids ^ (s0 | s1))
    if publish_faults(published):
        problems.append(f"published corpus: {publish_faults(published)} ids differ from the indexed documents")
    if published and publish_faults(published - {min(published)} | {-1}) == 0:
        problems.append("published corpus: self-test did not reject a changed id")
    bm_ids = {r[0] for r in con.sql(f"SELECT DISTINCT doc_id FROM read_parquet('{out}/plain/postings/*.parquet')").fetchall()}
    if bm_ids != s0 | s1:
        problems.append("BM25 and IVF indexes hold different document sets")

    results = res["outputs"]["results"]
    k = max(r["rank"] for r in results)
    got = [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in results if r["index"] == "bm25"]
    lines = [ln.rstrip("\n").split("\t") for ln in open(os.path.join(inputs, "queries.tsv"))]
    queries = [(int(q), w) for ix, q, terms in lines if ix == "bm25" for w in terms.split(" ")]
    exp = [tuple(r) for r in exact_bm25(con, s0 | s1, queries, k)]
    if diff_rows(got, exp) or not exp:
        problems.append(f"BM25 top-{k}: {diff_rows(got, exp)} rows differ from exact BM25")
    _self_test("BM25 top-k", lambda rows: diff_rows(rows, exp), got, problems)

    ids = sorted(s0 | s1)
    vecs = dict(con.execute("SELECT doc_id, embedding FROM docs WHERE doc_id IN (SELECT unnest(?))",
                            [ids]).fetchall())
    mat = np.array([vecs[i] for i in ids])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qs = [(int(q), [float(x) for x in v.split(",")]) for ix, q, v in lines if ix == "ivf"]
    ivf_rows = [r for r in results if r["index"] == "ivf"]

    def ivf_faults(rows):
        """(recall@k, rows whose score is not the exact cosine)"""
        hits, wrong = 0, 0
        for q, v in qs:
            qv = np.array(v) / np.linalg.norm(v)
            sims = mat_n @ qv
            truth = {ids[i] for i in np.argsort(-sims, kind="stable")[:k]}
            mine = [r for r in rows if r[0] == q]
            hits += len(truth & {r[2] for r in mine})
            wrong += sum(1 for r in mine if not math.isclose(
                r[3], float(sims[ids.index(r[2])]), rel_tol=1e-9, abs_tol=1e-9)) if mine else k
        return hits / (k * len(qs)), wrong
    rows = [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in ivf_rows]
    recall, wrong = ivf_faults(rows)
    if recall < IVF_RECALL_FLOOR or wrong:
        problems.append(f"IVF top-{k}: recall {recall:.3f} (floor {IVF_RECALL_FLOOR}), {wrong} inexact scores")
    if rows and ivf_faults([rows[0][:3] + (rows[0][3] + 0.5,)] + rows[1:])[1] == 0:
        problems.append("IVF: self-test did not reject a changed score")


CHECKS = {"etl_reports": check_etl, "table_commits": check_table, "curation": check_curation}


def check(res, inputs):
    """(correct, problems) for one run's outputs, every part of the workload."""
    problems = []
    for part, out in res["parts"].items():
        found = []
        try:
            CHECKS[part](out, os.path.join(inputs, part), found)
        except Exception as e:  # a crash in a checker is a failed check, not a pass
            found.append(f"checker error: {type(e).__name__}: {e}")
        problems += [f"{part}: {msg}" for msg in found]
    return not problems, problems
