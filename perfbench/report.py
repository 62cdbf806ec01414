"""Turn one run's ledger (the JVM's result.json) into the benchmark's metrics.

Steady figures are medians over the steady rounds of the run. A job belongs
to a round or span when the scheduler submitted it inside the span's
interval; its tasks' metrics come with it. Counters (CPU, GC, JIT, store
calls) are read at span boundaries. Inside one `Pipeline.runAll` call the
jobs are attributed to its layers by call site (the JVM side's
`Ledger.layers`), and each job's share of the call's wall time is the
stretch from the previous job's end to its own.
"""
import json
import os
import statistics

# Gated end-to-end metrics: those that repeat on a shared box (README
# "Repeatability"). The wall-time figures are per-layer (traced) metrics.
END_TO_END = [  # name, unit
    ("setup_s", "s"), ("pass_cpu_s", "s"), ("peak_rss_mb", "MB"),
    ("jobs_per_pass", "count"), ("store_calls_per_pass", "count"),
    ("space_amp", "ratio"), ("write_amp", "ratio"),
]
WALL_TIME = [
    ("cold_pass_s", "s"), ("pass_s", "s"), ("commit_s_p50", "s"), ("commit_s_tail", "s"),
    ("read_s_p50", "s"), ("query_s_p50", "s"),
]

TABLE_VERBS = ("append", "merge", "upsert", "delete", "update", "compact", "vacuum")
READ_KINDS = ("snapshot", "point", "feed", "as_of")

PER_LAYER = WALL_TIME + [
    ("session.start_s", "s"), ("jvm.jit_s", "s"), ("catalyst.plan_s", "s"),
    ("jvm.gc_s", "s"), ("spark.task_s", "s"), ("spark.gap_s", "s"),
    ("spark.single_task_jobs", "count"), ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
    ("staging.s", "s"), ("staging.jobs", "count"), ("staging.task_s", "s"),
    ("staging.shuffle_mb", "MB"), ("staging.cached_mb", "MB"),
    ("qa.s", "s"), ("qa.jobs", "count"),
    ("reports.s", "s"), ("reports.jobs", "count"), ("reports.shuffle_mb", "MB"),
    ("sources.csv_s", "s"), ("sources.csv_mb", "MB"), ("sources.read_mb", "MB"),
] + [(f"table.{v}.{m}", u) for v in TABLE_VERBS for m, u in (
    ("s", "s"), ("jobs", "count"), ("single_task_jobs", "count"), ("gap_s", "s"),
    ("store_calls", "count"))] + [
    (f"table.read.{k}.{m}", u) for k in READ_KINDS for m, u in (
        ("s", "s"), ("jobs", "count"), ("files", "count"))] + [
    ("store.read", "count"), ("store.write", "count"), ("store.list", "count"),
    ("store.swap", "count"),
    ("table.written_mb", "MB"), ("table.live_mb", "MB"), ("table.files_live", "count"),
    ("dedup.s", "s"), ("dedup.jobs", "count"), ("dedup.shuffle_mb", "MB"),
    ("funnel.s", "s"), ("funnel.jobs", "count"),
    ("ivf.build_s", "s"), ("ivf.fold_s", "s"), ("ivf.jobs", "count"),
    ("bm25.build_s", "s"), ("bm25.fold_s", "s"), ("bm25.jobs", "count"),
    ("ivf.query_s", "s"), ("bm25.query_s", "s"),
    ("materialize.live_rdds", "count"), ("materialize.live_checkpoints", "count"),
]

STORE = ("store_read", "store_write", "store_list", "store_swap")
RUNALL_LAYERS = ("staging", "qa", "reports", "sources.csv")


def du(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def quantile(xs, q):
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n):
    """The highest quantile with at least ten samples beyond it; the
    median when there are too few samples for any tail."""
    return max(0.5, 1.0 - 10.0 / n)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Ledger:
    def __init__(self, res):
        self.res = res
        self.names = res["counter_names"]
        self.spans = res["spans"]
        self.jobs = res["jobs"]  # id, start, end, tasks, run_ms, cpu_ns, shuffle, spill, read, written
        self.passes = [s for s in self.spans if s["name"] == "pass"]
        self.steady = [s for s in self.passes if s["kind"] == "steady"]
        self.cold = next(s for s in self.passes if s["kind"] == "cold")

    def delta(self, span, *names):
        return sum(span["c1"][self.names.index(n)] - span["c0"][self.names.index(n)] for n in names)

    def jobs_in(self, spans):
        return [(j, s) for s in spans for j in self.jobs if s["start"] - 2 <= j[1] <= s["end"] + 2]

    def stats(self, spans):
        """Figures for a set of spans of one round."""
        js = self.jobs_in(spans)
        gap = 0.0
        for s in spans:
            iv = sorted((max(j[1], s["start"]), min(j[2] if j[2] >= 0 else s["end"], s["end"]))
                        for j, t in js if t is s)
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in iv:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            gap += (s["end"] - s["start"]) - covered
        return {
            "s": sum(s["end"] - s["start"] for s in spans) / 1000.0,
            "jobs": len(js),
            "single_task_jobs": sum(1 for j, _ in js if j[3] == 1),
            "task_s": sum(j[4] for j, _ in js) / 1000.0,
            "shuffle_mb": sum(j[6] for j, _ in js) / 1e6,
            "spill_mb": sum(j[7] for j, _ in js) / 1e6,
            "read_mb": sum(j[8] for j, _ in js) / 1e6,
            "written_mb": sum(j[9] for j, _ in js) / 1e6,
            "gap_s": gap / 1000.0,
            "store_calls": sum(self.delta(s, *STORE) for s in spans),
        }

    def per_round(self, names, field):
        """Median, over the steady rounds that call a layer in `names`, of
        `field` summed over those calls; the cold round's figure when only
        the cold round calls it (a verb of the other family at the default
        run length); 0 when no round does."""
        vals = {p["pass"]: [] for p in self.passes}
        for s in self.spans:
            if s["name"] in names and s["pass"] in vals:
                vals[s["pass"]].append(s)
        steady = [self.stats(vals[p["pass"]])[field] for p in self.steady if vals[p["pass"]]]
        if steady:
            return median(steady)
        return self.stats(vals[self.cold["pass"]])[field] if vals[self.cold["pass"]] else 0.0

    def runall_layers(self, p):
        """Per-layer figures of the `runAll` call in steady round `p`: each
        job's layer is the one its call site names; each job owns the wall
        time from the previous job's end (or the call's start) to its own
        end, the last one also the rest of the call."""
        out = {ly: {"s": 0.0, "jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "read_mb": 0.0,
                    "written_mb": 0.0} for ly in RUNALL_LAYERS}
        span = next((s for s in self.spans if s["pass"] == p["pass"] and s["name"] == "runAll"), None)
        if span is None:
            return out
        js = sorted((j for j, _ in self.jobs_in([span])), key=lambda j: j[2])
        caching = {}  # SQL execution -> its last job that stores cached blocks
        for j in js:
            if j[10] > 0:
                caching[j[12]] = max(caching.get(j[12], -1), j[0])
        prev = span["start"]
        for n, j in enumerate(js):
            end = span["end"] if n == len(js) - 1 else max(prev, j[2])
            x = out.setdefault(self.layer(j, caching), dict.fromkeys(out["qa"], 0))
            x["s"] += (end - prev) / 1000.0
            x["jobs"] += 1
            x["task_s"] += j[4] / 1000.0
            x["shuffle_mb"] += j[6] / 1e6
            x["read_mb"] += j[8] / 1e6
            x["written_mb"] += j[9] / 1e6
            prev = end
        return out

    @staticmethod
    def layer(j, caching):
        """A runAll job's layer. `runAll` is lazy: the persisted staged views
        are computed by the first QA query that reads each one, and the
        reports by their CSV writes. So a QA job up to the one that stores
        a view's cached blocks in its SQL execution is staging, and a CSV
        job that writes no file (a report's exchange or broadcast) is
        reports; every other job keeps its call site's layer."""
        if j[11] == "qa" and j[0] <= caching.get(j[12], -1):
            return "staging"
        if j[11] == "sources.csv" and j[9] == 0:
            return "reports"
        return j[11]

    def samples(self, kind, name=None):
        ids = {p["pass"] for p in self.steady}
        return [(s["end"] - s["start"]) / 1000.0 for s in self.spans
                if s["kind"] == kind and s["pass"] in ids and (name is None or s["name"] == name)]

    def notes(self, key):
        ids = {p["pass"] for p in self.steady}
        return median([v for p, k, v in self.res["notes"] if k == key and p in ids])


def user_bytes(res, inputs, passes):
    """Bytes of the user rows each round in `passes` submits."""
    total = [0] * len(passes)
    for part in res["parts"]:
        d = os.path.join(inputs, part)
        if part == "table_commits":
            sub = json.load(open(os.path.join(d, "rounds.json")))["submitted_bytes"]
            total = [t + sub[p["pass"]] for t, p in zip(total, passes)]
        elif part == "curation":
            total = [t + du(os.path.join(d, "corpus.parquet")) + du(os.path.join(d, "increment.parquet"))
                     for t in total]
        else:
            total = [t + du(d) for t in total]
    return total


def summarize(res, inputs, traced):
    L = Ledger(res)
    steady = L.steady
    rounds = [L.stats([p]) for p in steady]
    # counts and bytes do not depend on JIT warm-up, so they span every
    # round: table_commits runs one verb family per round
    every = [L.stats([p]) for p in L.passes]
    commits = L.samples("commit")
    spaces = [out["space"] for out in res["parts"].values()]
    m = {
        "setup_s": res["gen_s"] + (res["session_ms"] - res["launch_ms"]) / 1000.0 +
                   median(res["setup_ms"]) / 1000.0,
        "cold_pass_s": (L.cold["end"] - L.cold["start"]) / 1000.0,
        "pass_s": median([r["s"] for r in rounds]),
        "pass_cpu_s": median([L.delta(p, "cpu_ns") / 1e9 for p in steady]),
        "peak_rss_mb": res["peak_rss_mb"],
        "jobs_per_pass": statistics.mean(r["jobs"] for r in every),
        "store_calls_per_pass": statistics.mean(r["store_calls"] for r in every),
        "commit_s_p50": median(commits),
        "commit_s_tail": quantile(commits, tail_quantile(len(commits))),
        "read_s_p50": median(L.samples("read")),
        "query_s_p50": median(L.samples("query")),
        "space_amp": sum(du(sp["root"]) for sp in spaces) / sum(du(sp["plain"]) for sp in spaces),
        "write_amp": sum(r["written_mb"] * 1e6 for r in every) /
                     sum(user_bytes(res, inputs, L.passes)),
    }
    if not traced:
        return ({k: {"value": m[k], "unit": u} for k, u in END_TO_END},
                {k: m[k] for k, _ in WALL_TIME})

    v = {name: 0.0 for name, _ in PER_LAYER}
    v.update({k: m[k] for k, _ in WALL_TIME})
    v["session.start_s"] = (res["session_ms"] - res["jvm_start_ms"]) / 1000.0
    v["jvm.jit_s"] = L.delta(L.cold, "jit_ms") / 1000.0
    v["catalyst.plan_s"] = sum(d for t, d in res["plans"]
                               if L.cold["start"] - 2 <= t <= L.cold["end"] + 2) / 1000.0
    v["jvm.gc_s"] = median([L.delta(p, "gc_ms") / 1000.0 for p in steady])
    for f in ("task_s", "gap_s", "single_task_jobs", "shuffle_mb", "spill_mb"):
        v[f"spark.{f}"] = median([r[f] for r in rounds])
    for c in STORE:
        v[c.replace("_", ".", 1)] = median([L.delta(p, c) for p in steady])
    layers = [L.runall_layers(p) for p in steady]
    for layer, fields in (("staging", ("s", "jobs", "task_s", "shuffle_mb")), ("qa", ("s", "jobs")),
                          ("reports", ("s", "jobs", "shuffle_mb"))):
        for f in fields:
            v[f"{layer}.{f}"] = median([ly[layer][f] for ly in layers])
    v["sources.csv_s"] = median([ly["sources.csv"]["s"] for ly in layers])
    v["sources.csv_mb"] = median([ly["sources.csv"]["written_mb"] for ly in layers])
    v["sources.read_mb"] = median([sum(x["read_mb"] for x in ly.values()) for ly in layers])
    v["staging.cached_mb"] = L.notes("staging.cached_mb")
    for layer, fields in (("dedup", ("s", "jobs", "shuffle_mb")), ("funnel", ("s", "jobs"))):
        for f in fields:
            v[f"{layer}.{f}"] = L.per_round({layer}, f)
    for verb in TABLE_VERBS:
        for f in ("s", "jobs", "single_task_jobs", "gap_s", "store_calls"):
            v[f"table.{verb}.{f}"] = L.per_round({f"table.{verb}"}, f)
    for kind in READ_KINDS:
        for f in ("s", "jobs"):
            v[f"table.read.{kind}.{f}"] = L.per_round({f"table.read.{kind}"}, f)
        v[f"table.read.{kind}.files"] = L.notes(f"table.read.{kind}.files")
    if "table_commits" in res["parts"]:
        out = res["parts"]["table_commits"]
        v["table.written_mb"] = statistics.mean(r["written_mb"] for r in every)
        v["table.live_mb"] = out["table_live_mb"]
        v["table.files_live"] = out["table_files_live"]
    for ix in ("ivf", "bm25"):
        v[f"{ix}.build_s"] = L.per_round({f"{ix}.build"}, "s")
        v[f"{ix}.fold_s"] = L.per_round({f"{ix}.fold"}, "s")
        v[f"{ix}.jobs"] = L.per_round({f"{ix}.build", f"{ix}.fold"}, "jobs")
        v[f"{ix}.query_s"] = median(L.samples("query", f"{ix}.query"))
    v["materialize.live_rdds"] = L.notes("materialize.live_rdds")
    v["materialize.live_checkpoints"] = L.notes("materialize.live_checkpoints")
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER}, {}
