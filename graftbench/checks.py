"""Independent output checks for graftbench.

Each checker recomputes the expected output without Spark, from the
run's own input files: directly (pubsub, index) or through the
operator's oracle SQL in DuckDB (registry), and returns which operations failed. Every
checker also proves itself on each run: one deliberately corrupted
output row must fail it.
"""
import copy
import glob
import hashlib
import json
import math
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen


@dataclass
class Verdict:
    correct: bool = True
    failed_ops: set = field(default_factory=set)
    notes: list = field(default_factory=list)

    def fail_setup(self, msg):
        self.correct = False
        self.notes.append(msg)


def check(workload, work, result):
    v = Verdict()
    if workload == "pubsub":
        pubsub(work, result, v)
    elif workload == "index":
        index(work, result, v)
    else:
        registry(work, result, v)
    for i, o in enumerate(result["ops"]):
        if o["phase"] != "timed" and (o["error"] or i in v.failed_ops):
            v.fail_setup(f"{o['phase']} {o['kind']} failed: {o['error'] or 'check'}")
    return v


def read_rows(path, columns=None):
    return pq.read_table(path, columns=columns).to_pylist()


# ---------------------------------------------------------------- pubsub
# Pipeline.withQuality and Portable.normText, restated: Java's \s class,
# Spark's trim (spaces only), words split on whitespace runs.
WS = re.compile(r"[ \t\n\x0b\f\r]+")
STOP = {"the", "a", "of", "and", "to"}
MIN_QUALITY = 0.5


def quality(text):
    t = text.strip(" ")
    words = WS.split(t) if t else []
    n = len(words)
    stop = sum(w in STOP for w in words) / n if n else 0.0
    punct = sum(text.count(c) for c in ".,!?;:") / len(text)
    return stop * 0.4 + min(n / 100.0, 1.0) * 0.4 + (1.0 - punct) * 0.2


def digest(text):
    return hashlib.md5(WS.sub(" ", text.lower()).strip(" ").encode()).digest()


def pubsub_expected(msgs, v):
    """Per round: curated doc ids (first arrival by (ts, doc_id) of each
    normalised-text digest never seen before, kept when its quality is
    at least 0.5) and raw arrivals per source."""
    seen, kept, arrivals = set(), {}, {}
    for m in sorted(msgs, key=lambda m: (m["round"], m["ts"], m["event_id"])):
        text = m["payload"].decode()
        q = quality(text)
        if abs(q - MIN_QUALITY) < 0.05:
            v.fail_setup(f"generated text {m['uuid']} scores {q:.3f}, too close to {MIN_QUALITY}")
        r = m["round"]
        kept.setdefault(r, set())
        src = arrivals.setdefault(r, {})
        src[m["partition_key"]] = src.get(m["partition_key"], 0) + 1
        h = digest(text)
        if h not in seen:
            seen.add(h)
            if q >= MIN_QUALITY:
                kept[r].add(int(m["uuid"]))
    return kept, arrivals


def round_ok(got_ids, want_ids, got_cells, want_cells):
    return (len(got_ids) == len(set(got_ids)) and set(got_ids) == want_ids
            and got_cells == want_cells)


def pubsub(work, result, v):
    kept, arrivals = pubsub_expected(
        read_rows(work / "in", ["event_id", "uuid", "partition_key", "payload", "ts", "round"]), v)
    sample = None
    for i, o in enumerate(result["ops"]):
        if o["error"]:
            continue
        r = o["round"]
        ids, cells = [], {}
        for b in o["batch_ids"]:
            d = work / "curated" / f"micro_batch_id={b}"
            if d.exists():
                ids += [row["doc_id"] for row in read_rows(d, ["doc_id"])]
            d = work / "cells" / f"micro_batch_id={b}"
            if d.exists():
                for row in read_rows(d, ["source", "n_docs"]):
                    cells[row["source"]] = cells.get(row["source"], 0) + row["n_docs"]
        if not round_ok(ids, kept[r], cells, arrivals[r]):
            v.failed_ops.add(i)
            v.notes.append(f"round {r}: {len(ids)} curated vs {len(kept[r])} expected; "
                           f"cells {cells} vs {arrivals[r]}")
        elif sample is None and ids:
            sample = (ids, kept[r], cells, arrivals[r])
    if sample is None:
        return v.fail_setup("pubsub: no round curated anything to self-test on")
    ids, want, cells, want_cells = sample
    bad_ids = [ids[0] + 10**9] + ids[1:]
    bad_cells = dict(cells)
    k = sorted(bad_cells)[0]
    bad_cells[k] += 1
    if round_ok(bad_ids, want, cells, want_cells) or round_ok(ids, want, bad_cells, want_cells):
        v.fail_setup("pubsub self-test: a corrupted row passed the check")


# ----------------------------------------------------------------- index
SUBS, SUB_DIM = 8, 8


class Version:
    """One published index version, read back with pyarrow."""

    def __init__(self, d):
        self.manifest = json.loads((d / "manifest.json").read_text())
        cents = pq.read_table(d / "cents").to_pydict()
        self.cells = np.array(cents["cell"])
        self.c_emb = np.array(cents["c_emb"], dtype=np.float64)
        self.c_nrm = np.array(cents["c_nrm"], dtype=np.float64)
        cb = pq.read_table(d / "codebook").to_pydict()
        # per sub: the codebook's code ids (sorted) and their sub-vectors
        self.code_ids, self.cv = [], []
        for s in range(SUBS):
            entries = sorted((c, e) for sub, c, e in zip(cb["sub"], cb["code_id"], cb["cv"]) if sub == s)
            self.code_ids.append(np.array([c for c, _ in entries], dtype=np.int64))
            self.cv.append(np.array([e for _, e in entries], dtype=np.float64))
        asg = pq.read_table(d / "assigned", columns=["vec_id", "cell", "seg"])
        self.vec_ids, self.cell_of, self.segs = (
            asg.column(k).to_numpy().astype(np.int64) for k in ("vec_id", "cell", "seg"))
        t = pq.read_table(d / "codes", columns=["vec_id", "sub", "code_id"])
        codes = {k: t.column(k).to_numpy().astype(np.int64) for k in t.column_names}
        by_id = np.argsort(self.vec_ids)
        pos = by_id[np.searchsorted(self.vec_ids, codes["vec_id"], sorter=by_id)]
        # code of (vector, sub), as an index into that sub's codebook
        self.codes = np.full((len(self.vec_ids), SUBS), -1, dtype=np.int64)
        for s in range(SUBS):
            at = codes["sub"] == s
            self.codes[pos[at], s] = np.searchsorted(self.code_ids[s], codes["code_id"][at])
        self.n_codes = len(codes["vec_id"])

    def topk(self, pid, p, n_probe):
        """Every ADC candidate of probe `p` with its exact distance,
        ordered by (adc_dist, vec_id)."""
        cos = self.c_emb @ p / (math.sqrt(p @ p) * self.c_nrm)
        order = sorted(range(len(cos)), key=lambda i: (-cos[i], self.cells[i]))
        routed = [self.cells[i] for i in order[:n_probe]]
        cand = np.isin(self.cell_of, routed) & (self.vec_ids != pid)
        dist = np.zeros(int(cand.sum()))
        for s in range(SUBS):
            ps, cv = p[s * SUB_DIM:(s + 1) * SUB_DIM], self.cv[s]
            table = ps @ ps - 2.0 * (cv @ ps) + (cv * cv).sum(axis=1)
            dist += table[self.codes[cand, s]]
        ids = self.vec_ids[cand]
        order = np.lexsort((ids, dist))
        return list(zip(dist[order].tolist(), ids[order].tolist()))


def serve_ok(rows, want, k):
    """`rows`: Spark's (probe_id, rank, vec_id, adc_dist); `want`: per
    probe, every candidate ordered by (exact distance, vec_id). Ranks
    and distances must match; an id may differ from the expected one
    only where the expected order holds an exact tie, which floating
    summation order may break either way."""
    by_probe = {}
    for pid, rank, vid, d in rows:
        by_probe.setdefault(pid, []).append((rank, vid, d))
    if set(by_probe) != set(want):
        return False
    for pid, got in by_probe.items():
        got.sort()
        exp = want[pid]
        exact = {vid: d for d, vid in exp}
        if [g[0] for g in got] != list(range(1, min(k, len(exp)) + 1)):
            return False
        if len({g[1] for g in got}) != len(got):
            return False
        for (rank, vid, d), (ed, evid) in zip(got, exp):
            if abs(d - ed) > 1e-6:
                return False
            if vid != evid and (vid not in exact or abs(exact[vid] - ed) > 1e-9):
                return False
    return True


def index(work, result, v):
    ops = result["ops"]
    k, n_probe = int(result["k"]), int(result["n_probe"])
    versions = {}

    def version(n):
        if n not in versions:
            versions[n] = Version(work / "index" / f"v{n}")
        return versions[n]

    probes = {}
    for row in read_rows(work / "in" / "probes"):
        probes.setdefault(row["batch"], []).append(row)
    corpus, drift = gen.CORPUS, gen.DRIFT_PER_BATCH
    v1 = version(1).manifest
    if v1["assigned"] != corpus or v1["codes"] != corpus * SUBS:
        v.fail_setup(f"index build: manifest {v1} for a corpus of {corpus}")

    sample = None
    served = {}
    for i, o in enumerate(ops):
        if o["error"]:
            continue
        if o["kind"] == "serve":
            ver = version(int(o["version"]))
            want = {p["vec_id"]: ver.topk(p["vec_id"], np.array(p["embedding"]), n_probe)
                    for p in probes[int(o["batch"])]}
            rows = [tuple(r) for r in o["rows"]]
            served[i] = rows
            if not serve_ok(rows, want, k):
                v.failed_ops.add(i)
                v.notes.append(f"serve batch {o['batch']} on v{o['version']}: differs from ADC recompute")
            elif sample is None:
                sample = (rows, want)
        else:
            new, old = version(int(o["version"])), version(int(o["version"]) - 1).manifest
            m = new.manifest
            if o["kind"] == "absorb":
                ok = m["assigned"] == old["assigned"] + drift and m["codes"] == old["codes"] + drift * SUBS
            else:
                ok = (m["assigned"] == old["assigned"] and m["codes"] == old["codes"]
                      and not new.segs.any())
            ok = ok and len(new.vec_ids) == m["assigned"] and new.n_codes == m["codes"]
            if not ok:
                v.failed_ops.add(i)
                v.notes.append(f"{o['kind']} to v{o['version']}: manifest {m} after {old}")
            if o["kind"] == "compact":
                # serving the same probes right before and right after a
                # compaction must give identical rows
                before = [j for j in range(i) if ops[j]["kind"] == "serve"][-1:]
                after = [j for j in range(i + 1, len(ops)) if ops[j]["kind"] == "serve"][:1]
                for b, a in zip(before, after):
                    if ops[b]["batch"] != ops[a]["batch"]:
                        continue
                    if ops[a]["error"] or ops[b]["rows"] != ops[a]["rows"]:
                        v.failed_ops.add(a)
                        v.notes.append(f"serve of batch {ops[a]['batch']} changed across compaction")
    if sample is None:
        return v.fail_setup("index: no served batch to self-test on")
    rows, want = sample
    bad = [(rows[0][0], rows[0][1], -1, rows[0][3])] + rows[1:]
    if serve_ok(bad, want, k):
        v.fail_setup("index self-test: a corrupted row passed the check")


# -------------------------------------------------------------- registry
def norm(rows):
    # tools/compare.py's rule: every cell as a string, floats rounded to
    # 6 places, rows sorted
    out = []
    for r in rows:
        rr = []
        for x in r:
            if isinstance(x, float):
                rr.append("NaN" if math.isnan(x) else str(round(x, 6)))
            else:
                rr.append(str(x))
        out.append(tuple(rr))
    return sorted(out)


def framed(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), norm(df.itertuples(index=False))


def same(got, exp):
    return got[0] == exp[0] and len(got[1]) == len(exp[1]) and got[1] == exp[1]


def registry(work, result, v):
    import duckdb
    con = duckdb.connect()
    for t in sorted((work / "in" / "tables").glob("*.parquet")):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    sqls = json.loads((work / "oracle_sql.json").read_text())
    expected = {n: framed(con.sql(s).df()) for n, s in sqls.items()}
    verdict_of = {}
    sample = None
    for i, o in enumerate(result["ops"]):
        if o["error"]:
            continue
        name = o["kind"]
        if o["output"] is not None:
            files = sorted(glob.glob(str(work / o["output"] / "*.parquet")))
            got = framed(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            verdict_of[(name, o["digest"])] = same(got, expected[name])
            if sample is None and got[1]:
                sample = (got, expected[name])
        if not verdict_of.get((name, o["digest"]), False):
            v.failed_ops.add(i)
            v.notes.append(f"{name}: rows differ from the DuckDB oracle")
    if sample is None:
        return v.fail_setup("registry: no output to self-test on")
    got, exp = sample
    bad = copy.deepcopy(got)
    row = list(bad[1][0])
    row[0] = row[0] + "x"
    bad[1][0] = tuple(row)
    if same(bad, exp):
        v.fail_setup("registry self-test: a corrupted row passed the check")
