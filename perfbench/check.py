"""Correctness gate.

Cards: a canonical digest of a result table, compared with the digest
of the card's DuckDB oracle answer kept in `oracle/answers.json`. The
digest follows the repository's oracle compare: columns sorted by name,
rows compared as a multiset, values compared exactly.

Lifecycle: each probe's candidate counts, compared with counts computed
here from `oracle/bands.parquet`, the band rows of every document as
the DuckDB replay of the MinHash banding (q194's oracle SQL) gives them.
"""
import hashlib
import json
import os

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE = os.path.join(HERE, "oracle", "answers.json")
BANDS = os.path.join(HERE, "oracle", "bands.parquet")


def canon(v):
    """One value's canonical text. The benchmark's cards return only
    integer columns; another type is an error, not a guess."""
    if v is None:
        return "~"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(table):
    """(rows, sha256) of an Arrow table, order-free."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("|".join(canon(c[i]) for c in cols)
                  for i in range(table.num_rows))
    h = hashlib.sha256(("\t".join(names) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()


def load_oracle():
    with open(ORACLE) as fh:
        return json.load(fh)


def check_cards(results_dir, cards):
    """Names of the cards whose written result does not match the
    oracle (missing results count as mismatches)."""
    oracle = load_oracle()
    bad = []
    for c in cards:
        path = os.path.join(results_dir, c)
        want = oracle.get(c)
        if want is None or not os.path.isdir(path):
            bad.append(c)
            continue
        rows, sha = digest(pq.read_table(path))
        if rows != want["rows"] or sha != want["sha256"]:
            bad.append(c)
    return bad


def load_bands():
    """Document id -> its (band_id, band_key) rows, from the oracle."""
    t = pq.read_table(BANDS)
    out = {}
    for d, b, k in zip(*(t.column(c).to_pylist()
                         for c in ("doc_id", "band_id", "band_key"))):
        out.setdefault(d, []).append((b, k))
    return out


def probe_answers(bands, base, epochs):
    """Per epoch, each arriving document's candidate count: the live
    documents sharing a band row with it after the epoch's erases and
    before the batch is folded in (the q194 screen). `base` and
    `epochs` are the plan's (see `plan.lifecycle_epochs`)."""
    bucket = {}

    def add(d):
        for bk in bands[d]:
            bucket.setdefault(bk, set()).add(d)

    def drop(d):
        for bk in bands[d]:
            bucket[bk].discard(d)

    for d in base:
        add(d)
    answers = []
    for arrive, erase in epochs:
        for d in erase:
            drop(d)
        answers.append({a: len(set().union(*(bucket.get(bk, ()) for bk in bands[a])))
                        for a in arrive})
        for d in arrive:
            add(d)
    return answers


def bad_probes(probe_checks, answers):
    """Ids of the probe ops whose counts differ from the oracle's."""
    return {p["op"] for p in probe_checks
            if {d: n for d, n in p["counts"]} != answers[p["epoch"]]
            or len(p["counts"]) != len(answers[p["epoch"]])}
