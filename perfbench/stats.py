"""Pure reductions: percentiles, span self time, and the metrics a run
reports, computed from the harness's JSON-lines events."""
import math
import statistics

MB = 1024.0 * 1024.0
TAIL = 10  # samples a reported percentile must leave beyond it


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of `n` samples lie strictly beyond the q-th percentile
    position."""
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def min_samples_for(q, tail=TAIL):
    """Fewest samples that leave `tail` beyond the q-th percentile."""
    n = tail + 1
    while samples_beyond(n, q) < tail:
        n += 1
    return n


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def choose_passes(first, pass_s, steal, seconds):
    """The timed passes the metrics use, as pass numbers: the ones with
    the least steal (earlier first on a tie) that together span
    `seconds`. Pass `first + i` took `pass_s[i]` seconds with steal
    share `steal[i]`."""
    order = sorted(range(len(pass_s)), key=lambda i: (steal[i], i))
    chosen, total = [], 0.0
    for i in order:
        if total >= seconds:
            break
        chosen.append(i)
        total += pass_s[i]
    return sorted(first + i for i in chosen)


class Run:
    """Index of one run's events. `seconds` given, the timed ops are
    those of the passes `choose_passes` keeps; otherwise every timed
    pass counts."""

    def __init__(self, events, seconds=None):
        by = {}
        for e in events:
            by.setdefault(e["k"], []).append(e)
        self.by = by
        self.one = {k: v[-1] for k, v in by.items()}
        self.ops = by.get("op", [])
        t = self.one.get("timed", {"first_pass": 0, "pass_s": [], "steal": []})
        n = len(t["pass_s"])
        passes = (choose_passes(t["first_pass"], t["pass_s"], t["steal"], seconds)
                  if seconds is not None else range(t["first_pass"], t["first_pass"] + n))
        self.passes = list(passes)
        # seconds the chosen passes took
        self.pass_wall = sum(t["pass_s"][p - t["first_pass"]] for p in self.passes)
        chosen = set(self.passes)
        self.timed = [o for o in self.ops if o["pass"] in chosen]

    def get(self, k):
        return self.by.get(k, [])


def end_to_end(run, launched_at, failed_cards=(), bad_ops=(), store_ok=True):
    """End-to-end metrics and the attempted/failed counts.

    An op fails when it threw, when its card's result failed the
    correctness check, or (lifecycle) when its probe counts differ from
    the oracle's (`bad_ops`) or the final fold-vs-rebuild check failed.
    """
    timed = run.timed
    if not timed:
        raise ValueError("no timed ops")
    failed = sum(1 for o in timed
                 if not o["ok"] or o["name"] in failed_cards
                 or o["id"] in bad_ops or not store_ok)
    lat = [o["t1"] - o["t0"] for o in timed]
    m = {
        "setup_s": (run.one["timed"]["t0"] - launched_at, "s"),
        "ops_per_s": (len(timed) / run.pass_wall, "ops/s"),
        "op_p50_s": (percentile(lat, 0.5), "s"),
        "op_p75_s": (percentile(lat, 0.75), "s"),
        "ok_ratio": ((len(timed) - failed) / len(timed), "ratio"),
        "peak_rss_mb": (run.one["timed"]["rss_peak_kb"] / 1024.0, "MB"),
    }
    return m, len(timed), failed


def store_metrics(run, text_bytes, base, epochs):
    """The lifecycle workload's store-facing figures. `text_bytes` maps
    a document id to its text's UTF-8 size; `base` and `epochs` are the
    plan the run executed (see `plan.lifecycle_epochs`)."""
    final = run.one.get("store_final")
    if not final:
        return {}
    timed = run.timed
    reads = [o["t1"] - o["t0"] for o in timed if o["kind"] == "probe"]
    writes = [o["t1"] - o["t0"] for o in timed
              if o["kind"] in ("append", "erase")]
    ids = {o["id"] for o in timed}
    sops = [s for s in run.get("store_op") if s["op"] in ids]
    arriving = sum(text_bytes[d] for s in sops if s["epoch"] >= 0
                   for d in epochs[s["epoch"]][0])
    done = epochs[:final["epochs"]]
    live = (set(base).union(*(a for a, _ in done))
            .difference(*(e for _, e in done)))
    if len(live) != final["live_docs"]:
        raise ValueError("the run's live set differs from its plan")
    return {
        "read_p50_s": (percentile(reads, 0.5), "s"),
        "read_p75_s": (percentile(reads, 0.75), "s"),
        "write_p50_s": (percentile(writes, 0.5), "s"),
        "write_amp": (sum(s["written_b"] for s in sops) / arriving, "ratio"),
        "space_amp": (final["disk_b"] / sum(text_bytes[d] for d in live), "ratio"),
    }


def traced_ops(run):
    """Timed ops of traced passes: the ones that have a span."""
    spans = {s["id"] for s in run.get("span")}
    return [o for o in run.timed if o["id"] in spans]


def span_tree(run):
    """Spans (op, phase, job, stage) with parent links, and the jobs of
    each span id. Jobs whose submitting thread carried no span id are
    attributed to the innermost span open when they started."""
    spans = {s["id"]: dict(s) for s in run.get("span")}
    phases = sorted((s for s in spans.values() if s["parent"]),
                    key=lambda s: s["t0"])
    ops = sorted((s for s in spans.values() if not s["parent"]),
                 key=lambda s: s["t0"])
    ends = {e["id"]: e for e in run.get("job_end")}
    stages = {}
    for st in run.get("stage"):
        stages[(st["id"], st["attempt"])] = st
    stage_of = {}
    for key, st in stages.items():
        stage_of.setdefault(key[0], []).append(st)

    def enclosing(t):
        for group in (phases, ops):
            for s in group:
                if s["t0"] <= t <= s["t1"]:
                    return s["id"]
        return None

    jobs = []
    for j in run.get("job"):
        parent = j["parent"] if j["parent"] in spans else enclosing(j["t0"])
        if parent is None:
            continue
        end = ends.get(j["id"], {}).get("t1", j["t0"])
        job = {"id": f"j{j['id']}", "name": f"job {j['id']}",
               "parent": parent, "op": spans[parent]["op"],
               "t0": j["t0"], "t1": end, "stages": []}
        for sid in j["stages"]:
            for st in stage_of.get(sid, []):
                job["stages"].append(st)
        jobs.append(job)
    return spans, jobs


def per_layer(run, launched_at, cards, store_plan=None):
    """Per-layer metrics from the spans of the traced passes.

    Layer times are per op: a layer's total over the traced ops divided
    by their number, so construct_s + plan_s + exec_s (+ store time on
    lifecycle) adds up to the mean op latency.
    """
    ops = traced_ops(run)
    n = max(len(ops), 1)
    op_ids = {o["id"] for o in ops}
    spans, jobs = span_tree(run)
    cores = run.one["session"]["cores"]
    m = {}

    sess = run.one["session"]
    warm = run.one["warmup"]
    m["Sessions.start_s"] = (sess["t1"] - launched_at, "s")
    m["warmup_s"] = (warm["t1"] - warm["t0"], "s")
    m["warmup.passes"] = (warm["passes"], "count")
    # the store is the only trained artifact; chains cards train none
    init = run.one.get("store_init")
    m["Artifacts.train_s"] = ((init["t1"] - init["t0"]) if init else 0.0, "s")
    m["Artifacts.disk_mb"] = (run.one["artifacts"]["disk_b"] / MB, "MB")

    def phase_spans(name):
        return [s for s in spans.values()
                if s["name"] == name and s["op"] in op_ids and s["parent"]]

    def jobs_of(span_ids):
        return [j for j in jobs if j["parent"] in span_ids]

    cons = phase_spans("construct")
    cons_ids = {s["id"] for s in cons}
    cons_jobs = jobs_of(cons_ids)
    cons_self = 0.0
    for s in cons:
        kids = [(j["t0"], j["t1"]) for j in cons_jobs if j["parent"] == s["id"]]
        cons_self += self_time((s["t0"], s["t1"]), kids)
    m["construct_s"] = (sum(s["t1"] - s["t0"] for s in cons) / n, "s")
    m["construct.jobs"] = (len(cons_jobs) / n, "count")
    m["construct.self_s"] = (cons_self / n, "s")
    m["plan_s"] = (sum(s["t1"] - s["t0"] for s in phase_spans("plan")) / n, "s")

    ex = phase_spans("exec")
    ex_jobs = jobs_of({s["id"] for s in ex})
    ex_stages = [st for j in ex_jobs for st in j["stages"]]
    ex_wall = sum(s["t1"] - s["t0"] for s in ex)
    task_s = sum(st["run_s"] for st in ex_stages)
    m["exec_s"] = (ex_wall / n, "s")
    m["exec.jobs"] = (len(ex_jobs) / n, "count")
    m["exec.stages"] = (len(ex_stages) / n, "count")
    m["exec.tasks"] = (sum(st["tasks"] for st in ex_stages) / n, "count")
    m["exec.task_s"] = (task_s / n, "s")
    m["exec.par_eff"] = (task_s / (ex_wall * cores) if ex_wall else 0.0, "ratio")
    all_stages = [st for j in jobs if j["op"] in op_ids for st in j["stages"]]
    m["exec.shuffle_mb"] = (sum(st["shuffle_w_b"] for st in all_stages) / MB / n, "MB")
    m["exec.spill_mb"] = (sum(st["spill_b"] for st in all_stages) / MB / n, "MB")
    m["exec.input_mb"] = (sum(st["input_b"] for st in all_stages) / MB / n, "MB")
    m["exec.gc_s"] = (sum(st["gc_s"] for st in all_stages) / n, "s")

    caches = [c for c in run.get("caches") if c["op"] in op_ids]
    m["Caches.persisted"] = (sum(c["n"] for c in caches) / n, "count")
    m["Caches.mem_mb"] = (sum(c["mem_b"] for c in caches) / MB / n, "MB")

    # store layer (lifecycle); zero on card workloads
    def kind_median(kind):
        return median([o["t1"] - o["t0"] for o in ops if o["kind"] == kind])
    sops = [s for s in run.get("store_op") if s["op"] in {o["id"] for o in run.timed}]
    final = run.one.get("store_final")
    sm = store_metrics(run, *store_plan) if store_plan else {}
    for kind in ("append", "erase", "probe", "compact", "vacuum"):
        m[f"SigStore.{kind}_s"] = (kind_median(kind), "s")
    m["SigStore.written_mb"] = (sum(s["written_b"] for s in sops) / MB, "MB")
    m["SigStore.disk_mb"] = ((final["disk_b"] if final else 0) / MB, "MB")
    probes = [s["depth"] for s in sops
              if s["op"] in {o["id"] for o in run.timed if o["kind"] == "probe"}]
    m["SigStore.chain_depth"] = (statistics.mean(probes) if probes else 0.0, "count")
    m["SigStore.write_amp"] = (sm["write_amp"][0] if sm else 0.0, "ratio")
    m["SigStore.space_amp"] = (sm["space_amp"][0] if sm else 0.0, "ratio")

    walls, njobs = {}, {}
    for o in ops:
        walls.setdefault(o["name"], []).append(o["t1"] - o["t0"])
        njobs.setdefault(o["name"], []).append(
            sum(1 for j in jobs if j["op"] == o["id"]))
    for c in cards:
        short = c.split("_")[0]
        m[f"{short}.s"] = (median(walls.get(c, [])), "s")
        m[f"{short}.jobs"] = (median(njobs.get(c, [])), "count")

    # tracing overhead: traced passes against the untraced passes around
    # them in the same run (ordered untraced, traced, traced, untraced)
    passes = {}
    for o in run.timed:
        passes.setdefault(o["pass"], []).append(o)
    tr, un = [], []
    for p in passes.values():
        wall = max(o["t1"] for o in p) - min(o["t0"] for o in p)
        (tr if any(o["id"] in op_ids for o in p) else un).append(wall / len(p))
    over = (statistics.mean(tr) / statistics.mean(un) - 1.0) * 100 if tr and un else 0.0
    m["trace.overhead_pct"] = (over, "%")
    m["trace.spans"] = (len(spans) + len(jobs) + sum(len(j["stages"]) for j in jobs), "count")
    return m, spans, jobs
