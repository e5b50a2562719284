#!/usr/bin/env python3
"""Per-query bench regression diff: compare a new bench artifact against
the most recent LIVE baseline for each query, so a q32-style anomaly is
caught in the round it appears instead of costing judge adjudication.

Usage:
  python3 tools/bench_diff.py OLD1 [OLD2 ...] NEW [--thresh 0.1]

The LAST positional argument is the new artifact; every earlier one is a
candidate baseline, ordered oldest -> newest. For each query the baseline
is the NEWEST prior artifact in which the query (a) appears and (b) is
not listed as broken in tools/bench_status.json. That closes the r9
blind spot where m6's 9x swing vs r7 was invisible because its r8 entry
was a failure stub and only r8 was consulted.

Brokenness is an EXPLICIT per-artifact list (tools/bench_status.json),
not a time threshold: a genuinely fast query (e.g. 0.015 s) regressing
to seconds is still compared (against the 0.05 s noise floor) and still
fails. graft.Bench prints "bench FAILED queries: ..." to stderr so the
next status entry is mechanical, not forensic.

Baseline-of-last-resort (r15 verdict #2): a query whose only readings
in the artifacts PASSED are phantom/broken resolves no baseline and
would ride the "new" bucket unflagged (the r15 hole: q46=13.0 passed a
BENCH_r14->r15-only diff because both its entries were phantom). Every
phantom adjudication therefore pins its quiet 11-run median in
bench_status.json's "adjudicated_levels"; when artifact history
resolves no live baseline for a query, the pin IS the baseline. The
pin never overrides a live artifact reading - newest live wins.

`python3 tools/bench_diff.py --selftest` proves the pin closes the
hole: a synthetic 13.0 reading for a phantom-class query must flag
under a two-artifact (r14, r15) invocation, and must demonstrably NOT
flag with pins disabled (the pre-fix behavior).

Accepts either the driver's BENCH_r{N}.json wrapper (reads .parsed,
falling back to the last JSON object embedded in .tail for rounds the
driver failed to parse) or a raw one-line bench JSON from
`runMain graft.Bench`.
"""
import json, os, re, sys


def load_queries(path):
    text = open(path).read()
    doc = json.loads(text)
    if "queries" in doc:  # raw bench line
        return doc["queries"], doc.get("value")
    parsed = doc.get("parsed")
    if parsed and parsed.get("queries"):
        return parsed["queries"], parsed.get("value")
    # driver recorded parsed=null: fish the line out of the tail
    tail = doc.get("tail", "")
    # pre-round-6 lines carried "sf":"sf0.1" (string) and extra fields
    for m in reversed(re.findall(r'\{"metric".*?"sf":(?:"[^"]*"|[0-9.]+)\}', tail)):
        try:
            line = json.loads(m)
            return line["queries"], line.get("value")
        except Exception:
            continue
    raise SystemExit(f"{path}: no parseable bench line")


def load_remeasures(path):
    """In-capture self-adjudication re-measures, fam -> (load1, load5)
    the re-measure ran under. Since round 18 the labels ride INSIDE the
    bench JSON line itself (a "remeasured" array before the "sf" key),
    so a driver tail truncated mid-diagnostics can never orphan the
    evidence (the r17 artifact began mid-line at ".43], unquiet=8" —
    the list that would have self-excused its flags was cut off);
    older artifacts carry them only in the stderr diagnostics line
    ("remeasured=[a14_mips_lsh@1.44,...]"), which we still parse. A
    re-measure that ran ABOVE the quiet bars is not adjudication
    evidence — its flag is classified UNADJUDICATED, never "held"
    (the r13 driver capture presented loadavg-1.44 re-measures as held
    flags). Raw bench-line files: the JSON field still works; no
    diagnostics -> empty."""
    try:
        doc = json.loads(open(path).read())
    except Exception:
        return {}
    if not isinstance(doc, dict):
        return {}
    # machine-readable field in the bench line (round 18+): the line
    # itself, the driver wrapper's .parsed, or the tail-fished line
    for src in (doc, doc.get("parsed") or {}):
        if isinstance(src, dict) and isinstance(src.get("remeasured"), list):
            return _parse_labels(",".join(str(x) for x in src["remeasured"]))
    tail = doc.get("tail", "")
    # match bare name@load pairs rather than the full "remeasured=[...]"
    # list: the driver keeps only the LAST 2000 chars, which can cut the
    # list's opening bracket off mid-entry (the r13 tail starts
    # ",q22_histogram@1.44,...], stat=median"). "@" appears nowhere else
    # in the bench output. (If the tail holds the round-18 JSON line,
    # this same regex reads the labels out of its "remeasured" field.)
    return _parse_labels(tail)


def _parse_labels(text):
    """name@load1[/load5] labels -> fam -> (load1, load5). Legacy
    single-bar labels (pre-r18) report load5 = 0.0 (i.e. "passes the
    5-min bar"), matching the information the capture recorded."""
    out = {}
    for name, l1, l5 in re.findall(
            r"([A-Za-z][A-Za-z0-9_]*)@([0-9.]+)(?:/([0-9.]+))?", text):
        out[fam(name)] = (float(l1), float(l5) if l5 else 0.0)
    return out


def fam(key):
    """Bench lines may carry prefix keys (q21) or full names
    (q21_percentiles) depending on the fit tier — normalize. "M13" is
    the fit-compressed spelling of family "mm13" (the one two-char
    family prefix, shortened to keep the 188-query line inside the
    driver's 2000-char capture)."""
    f = key.split("_", 1)[0]
    if len(f) > 1 and f[0] == "M" and f[1:].isdigit():
        return "mm" + f[1:]
    return f


GATE = {"thresh": 0.1, "min_new": 0.2, "ratio": 2.0, "floor": 0.05,
        "quiet_load": 0.8, "load5_mult": 1.5}


def load_status():
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_status.json")
    try:
        doc = json.load(open(p))
    except Exception:
        return {}, {}
    # "broken" = errored (stub time); "phantom" = reading adjudicated a
    # load-burst artifact by the 11-run quiet protocol (BENCH_DIFF
    # record). Both are dead as baselines — a phantom-high baseline
    # silently de-sensitizes the gate for that query.
    broken = {name: set(fam(q) for q in (entry.get("broken", [])
                                         + entry.get("phantom", [])))
              for name, entry in doc.items()
              if isinstance(entry, dict) and not name.startswith("_")}
    # "expected_changed": adjudicated CHANGED-CODE cost increases,
    # LEVEL-PINNED (fam -> {level, why}). A flag is waived only while
    # the new reading stays <= 1.5x the adjudicated level: the waiver
    # documents a price, it does not blanket-cover the query forever.
    # An entry dies naturally once the next driver BENCH becomes the
    # live baseline; prune it then. Legacy string entries (no level)
    # are ignored — an unbounded waiver weakens the gate's invariant.
    expected = {fam(k): v for k, v in doc.get("expected_changed", {}).items()
                if not k.startswith("_") and isinstance(v, dict)
                and "level" in v}
    # "adjudicated_levels": every phantom adjudication pins its quiet
    # 11-run median (fam -> {level, src}). Used ONLY as the baseline of
    # last resort — when no artifact in the invocation carries a live
    # reading for a query the gate still resolves a level, so a
    # truncated-history diff cannot park a phantom-class query in the
    # unflagged "new" bucket (the r15 q46=13.0 hole).
    pinned = {fam(k): v for k, v in doc.get("adjudicated_levels", {}).items()
              if not k.startswith("_") and isinstance(v, dict)
              and "level" in v}
    # gate constants: this script is the only reader of _gate
    g = doc.get("_gate", {})
    for k in GATE:
        if isinstance(g.get(k), (int, float)):
            GATE[k] = float(g[k])
    return broken, expected, pinned


def run_diff(old_paths, new_path, thresh, use_pins=True, out=None):
    """Resolve baselines, classify movers. Returns a dict with the
    classification; printing goes to `out` (None = silent, for the
    selftest's pre-fix re-run)."""
    def say(*a, **kw):
        if out is not None:
            print(*a, **kw, file=out)
    status, expected, pinned = load_status()

    new_q, new_total = load_queries(new_path)
    new = {fam(k): v for k, v in new_q.items()}

    # For each query: newest prior artifact with a LIVE reading.
    base = {}       # fam -> (value, path)
    old_totals = {}
    for p in old_paths:  # oldest -> newest; later artifacts overwrite
        # a prior artifact with NO parseable line (the parsed=null era,
        # rounds 1-5) simply contributes no baselines; only the NEW
        # artifact is required to parse
        try:
            q, total = load_queries(p)
        except SystemExit as e:
            print(f"note: skipping baseline {e}", file=sys.stderr)
            continue
        old_totals[p] = total
        broken = status.get(os.path.basename(p), set())
        for k, v in q.items():
            f = fam(k)
            if f in broken:
                continue
            base[f] = (v, p)

    # Baseline of last resort: a query with NO live artifact reading in
    # this invocation but an adjudicated quiet level still gets a
    # baseline, so truncated history cannot park it in the unflagged
    # "new" bucket. Artifact readings always win over the pin.
    pinned_used = []
    if use_pins:
        for f, v in pinned.items():
            if f in new and f not in base:
                base[f] = (float(v["level"]),
                           f"pin:{v.get('src', 'adjudicated_levels')}")
                pinned_used.append(f)

    shared = sorted(set(base) & set(new))
    added = sorted(set(new) - set(base))
    removed = sorted(set(base) - set(new))
    movers = [(k, base[k][0], new[k], new[k] - base[k][0], base[k][1])
              for k in shared if abs(new[k] - base[k][0]) >= thresh]
    movers.sort(key=lambda t: -abs(t[3]))

    say(f"# bench diff: {', '.join(old_paths)} -> {new_path}")
    so, sn = sum(base[k][0] for k in shared), sum(new[k] for k in shared)
    say(f"\nshared {len(shared)} queries (each vs its last live "
        f"baseline): {so:.2f}s -> {sn:.2f}s ({sn / so:.2f}x); "
        f"totals {[old_totals[p] for p in old_paths if p in old_totals]} -> {new_total}")
    if pinned_used:
        say(f"pinned baselines (no live reading in the artifacts "
            f"passed; level from tools/bench_status.json "
            f"adjudicated_levels): "
            + ", ".join(f"{k}={base[k][0]}" for k in sorted(pinned_used)))
    if added:
        say(f"new: {', '.join(added)} "
            f"(+{sum(new[k] for k in added):.2f}s combined)")
    if removed:
        say(f"removed: {', '.join(removed)}")
    if movers:
        say(f"\n| query | baseline | from | {new_path} | delta |")
        say("| --- | --- | --- | --- | --- |")
        for k, o, n, d, src in movers:
            say(f"| {k} | {o:.2f} | {os.path.basename(src)} | "
                f"{n:.2f} | {d:+.2f} |")
    else:
        say(f"\nno per-query move >= {thresh}s")
    # trip when a query regressed >= max(thresh, 2x) vs its last live
    # baseline. Ratio over floored values (FLOOR = 0.05 s noise floor)
    # applied UNIFORMLY: fast-but-live baselines are floored, never
    # excluded, so a 0.015 s -> 5 s regression fails. Only explicitly
    # status-listed stub entries are outside the comparison set.
    FLOOR = GATE["floor"]
    trip = [(k, n) for k, o, n, d, _ in movers
            if d >= thresh and n >= GATE["min_new"]
            and max(n, FLOOR) >= GATE["ratio"] * max(o, FLOOR)]
    # waive only while the reading stays near the adjudicated level —
    # a pinned 0.94 s waiver does NOT cover a later 10 s regression
    waived = [k for k, n in trip
              if k in expected and n <= 1.5 * expected[k]["level"]]
    # a flag whose in-capture re-measure ran ABOVE the quiet bars was
    # never adjudicated — the 11-run median it "held" at was itself
    # taken under load. Classify UNADJUDICATED (an open question for
    # the manual one-query-per-JVM quiet protocol), never a held
    # regression: the r13 driver capture presented loadavg-1.44
    # re-measures as evidence and cost a judge round-trip. The rule is
    # the SAME two-bar rule the re-measure's quiet-wait ran under
    # (1-min <= quiet_load AND 5-min <= quiet_load * load5_mult, both
    # read from the shared _gate block) — r17's ADVICE: the diff side
    # could not previously see the 5-min criterion.
    remeasures = load_remeasures(new_path)

    def unquiet(k):
        l1, l5 = remeasures.get(k, (0.0, 0.0))
        return (l1 > GATE["quiet_load"]
                or l5 > GATE["quiet_load"] * GATE["load5_mult"])
    unadj = [k for k, n in trip if k not in waived and unquiet(k)]
    bad = [k for k, n in trip if k not in waived and k not in unadj]
    if waived:
        say("\nexpected changed-code costs (level-pinned in "
            "tools/bench_status.json, not gate failures): "
            + ", ".join(f"{k} (<=1.5x {expected[k]['level']}s: "
                        f"{expected[k].get('why', '')})" for k in waived))
    if unadj:
        say(f"\nUNADJUDICATED (re-measured above the quiet bars "
            f"load1<={GATE['quiet_load']} / "
            f"load5<={GATE['quiet_load'] * GATE['load5_mult']} — not "
            f"evidence either way; rerun the 11-run one-query-per-JVM "
            f"protocol on a quiet host): "
            + ", ".join(f"{k}@{remeasures[k][0]}/{remeasures[k][1]}"
                        for k in unadj))
    if bad:
        say(f"\nREGRESSIONS (>=2x vs last live and >=+{thresh}s): "
            f"{', '.join(bad)}")
    return {"bad": bad, "unadj": unadj, "waived": waived,
            "added": added, "removed": removed, "shared": shared}


def selftest():
    """Prove the pinned-baseline fix closes the truncated-history hole:
    a synthetic 13.0 s reading for a phantom-class query (q46 — phantom
    in BOTH BENCH_r14.json and BENCH_r15.json, so a two-artifact diff
    resolves it no live baseline) must flag with pins on, and must land
    in the unflagged "new" bucket with pins off (the pre-fix escape
    this test exists to keep closed)."""
    import tempfile
    load_status()  # apply _gate overrides before reading GATE defaults
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    olds = [os.path.join(root, "BENCH_r14.json"),
            os.path.join(root, "BENCH_r15.json")]
    for p in olds:
        if not os.path.exists(p):
            raise SystemExit(f"selftest: missing artifact {p}")
    q, _ = load_queries(olds[-1])
    q = dict(q)
    k46 = next(k for k in q if fam(k) == "q46")
    q[k46] = 13.0
    with tempfile.NamedTemporaryFile("w", suffix=".json",
                                     delete=False) as f:
        json.dump({"metric": "selftest", "value": sum(q.values()),
                   "unit": "sec", "queries": q, "sf": 0.1}, f)
        synth = f.name
    try:
        fixed = run_diff(olds, synth, GATE["thresh"], use_pins=True)
        broken = run_diff(olds, synth, GATE["thresh"], use_pins=False)
    finally:
        os.unlink(synth)
    if "q46" not in fixed["bad"]:
        raise SystemExit("selftest FAIL: synthetic q46=13.0 did not "
                         "flag under the two-artifact invocation with "
                         "pins on — the truncated-history hole is open "
                         f"(bad={fixed['bad']}, added={fixed['added']})")
    if "q46" in broken["bad"] or "q46" not in broken["added"]:
        raise SystemExit("selftest FAIL: with pins disabled q46 was "
                         "expected to escape via the 'new' bucket (the "
                         "hole this test documents); it did not — the "
                         "test no longer exercises the pin path "
                         f"(bad={broken['bad']}, added={broken['added']})")
    print("bench_diff selftest OK: synthetic q46=13.0 flags under a "
          "two-artifact (r14, r15) invocation via its pinned "
          "adjudicated level, and demonstrably escapes with pins off")


def main():
    if "--selftest" in sys.argv[1:]:
        selftest()
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 2:
        raise SystemExit(__doc__)
    old_paths, new_path = args[:-1], args[-1]
    load_status()  # apply _gate overrides before reading GATE defaults
    thresh = GATE["thresh"]
    for a in sys.argv[1:]:
        if a.startswith("--thresh"):
            thresh = float(a.split("=", 1)[1]) if "=" in a else thresh
    r = run_diff(old_paths, new_path, thresh, out=sys.stdout)
    if r["bad"]:
        sys.exit(1)
    if r["unadj"]:
        # fail-CLOSED (r14 advisor): an unadjudicated >=2x flag must
        # force the manual quiet protocol, not pass with a printed
        # note. Distinct exit code so callers can tell "genuine
        # regression" (1) from "adjudication owed" (2); the flag
        # clears only via a bench_status.json phantom/expected entry
        # recorded after the 11-run quiet re-measure.
        sys.exit(2)


main()
