"""Workload definitions and the seeded op plans the harness executes.

Everything here is a pure function of the seed: the same seed gives the
same card order and the same lifecycle batches every time. The program
receives only the plan written by `write_plan`.
"""
import random

# Job-chain-bound cards: wall goes to construct (eager jobs) and to
# exec stage chains, not to task compute.
CHAINS = [
    "q172_seeded_pagerank",  # iterative: seeded PageRank rounds
    "q308_fleiss_kappa",     # agreement: chain of per-statistic exchanges
]

# warm_min: passes before timing starts, the first of them cold. Card
# passes level off by about the fifth. Store cycles from the fourth
# pass on ran 10-15% slower than those from the sixth; they still get
# a little faster after that, but seven warm-up passes instead of five
# did not make ten runs agree better and cost 5 s a run.
WORKLOADS = {
    "chains": {"kind": "cards", "cards": CHAINS, "warm_min": 4},
    "lifecycle": {"kind": "lifecycle", "warm_min": 5},
}

# Warm-up continues past warm_min until the last two passes are within
# WARM_TOL of each other, to at most WARM_MAX passes.
WARM_TOL = 0.20
WARM_MAX = 7

# Host noise. On a shared virtual machine the hypervisor takes CPU time
# away from the guest ("steal" in /proc/stat), and a Spark stage on all
# cores waits for its slowest task, so a pass with 15% steal ran about
# 50% longer than a clean one on a 4-core box. An untraced run times
# passes until those with at most STEAL_MAX steal (the threshold of the
# repository's own graft.Bench) span --seconds, or until another pass
# would end past DEADLINE_S after JVM start; the metrics then use the
# least-steal passes that span --seconds (stats.choose_passes). Steal
# came in bursts of 15-35 s. A clean run ends timing 50-60 s after
# start, so the deadline leaves room to wait out part of a burst while
# keeping the slowest run near 75 s, within the budget of 48 runs in
# under an hour.
STEAL_MAX = 0.02
DEADLINE_S = 68

# Lifecycle store: the MinHash parameters of the q194 band index
# (uncapped buckets).
STORE = {"shingle_n": 3, "num_hashes": 8, "rows_per_band": 1, "cap": 0}
# The traffic follows q312's crawl model: the corpus arrives in epochs
# of 1/8 of it, and a fifth of each batch's size is tombstoned. Each
# crawl epoch is cut into SLICES_PER_EPOCH arrival batches to fit the
# run's time budget (78 documents of the 5,000, with 15 erases). Half
# of the slices form the base store.
CRAWL_EPOCHS = 8
SLICES_PER_EPOCH = 8
ERASE_SHARE = 0.2
BASE_SLICES = CRAWL_EPOCHS * SLICES_PER_EPOCH // 2
CYCLE_EPOCHS = 1         # epochs between compactions
PASSES = 200             # seeded pass orders generated per run


def rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def card_passes(workload, seed, n=PASSES):
    """`n` seeded permutations of the workload's cards."""
    cards = WORKLOADS[workload]["cards"]
    r = rng(workload, seed)
    out = []
    for _ in range(n):
        p = list(cards)
        r.shuffle(p)
        out.append(p)
    return out


def lifecycle_epochs(seed, doc_ids):
    """Base set and epochs (arrive, erase) over `doc_ids`.

    The seed shuffles the documents and cuts them into equal slices;
    the first BASE_SLICES slices seed the store and each later slice is
    one epoch's arrival batch. An epoch first erases live documents,
    then probes its batch against the served store (as in q194, before
    the batch is folded in), then folds the batch in. Every op is valid.
    """
    r = rng("lifecycle", seed)
    ids = sorted(doc_ids)
    r.shuffle(ids)
    size = len(ids) // (CRAWL_EPOCHS * SLICES_PER_EPOCH)
    n_erase = int(size * ERASE_SHARE)
    n_base = size * BASE_SLICES
    base = ids[:n_base]
    live = set(base)
    epochs = []
    for i in range(n_base, len(ids) - size + 1, size):
        erase = r.sample(sorted(live), n_erase)
        live.difference_update(erase)
        arrive = ids[i:i + size]
        live.update(arrive)
        epochs.append((arrive, erase))
    return sorted(base), epochs


def write_plan(path, workload, seed, seconds, trace, data_dir, doc_ids=None):
    spec = WORKLOADS[workload]
    lines = [f"workload {workload}", f"data {data_dir}",
             f"seconds {seconds}", f"trace {trace}",
             f"warm_min {spec['warm_min']}", f"warm_tol {WARM_TOL}",
             f"warm_max {WARM_MAX}", f"steal_max {STEAL_MAX}",
             f"deadline {DEADLINE_S}"]
    if spec["kind"] == "cards":
        lines.append("cards " + ",".join(spec["cards"]))
        lines += ["pass " + ",".join(p) for p in card_passes(workload, seed)]
    else:
        base, epochs = lifecycle_epochs(seed, doc_ids)
        s = STORE
        lines += [f"store {s['shingle_n']} {s['num_hashes']} "
                  f"{s['rows_per_band']} {s['cap']}",
                  f"cycle_epochs {CYCLE_EPOCHS}",
                  "base " + ",".join(map(str, base))]
        lines += ["epoch " + ";".join(",".join(map(str, x)) for x in e)
                  for e in epochs]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
