#!/usr/bin/env python3
"""graftbench: end-to-end and per-layer benchmark of graft.

    python3 graftbench/run.py --workload pubsub|index|registry --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Compiles the checkout's src/main and
the benchmark's own sources (cached under .bench_build/ by content
hash), runs one JVM on the named workload, checks every output with an
independent computation, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics of BENCHMARK.json; traced runs the per-layer ones.

    python3 graftbench/run.py --self-check --workload W [--seed N --seconds S]

runs two traced runs of one seed and fails unless every span's jobs,
stages, tasks, codegen compiles and shuffle bytes are identical.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build" / "graftbench"
JVM_TIMEOUT_S = 160
# one composed operator from each graft.queries module the other
# workloads do not reach: Analytics, Messaging, Dedup, TextOps and
# Multimodal, each chosen for a short cold first execution
REGISTRY_OPS = ("q44_event_funnel", "m22_hot_key_audit", "d5_simhash",
                "t18_entropy", "mm6_magic_sniff")
DETERMINISTIC = ("jobs", "stages", "tasks", "codegen_compiles", "shuffle_write_bytes")

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars directory build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    found = sorted(jars.glob("*.jar"))
    if not found:
        die(f"no Spark jars under {jars}")
    return found


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build():
    """Compile src/main and the benchmark into a content-addressed
    directory (reused while nothing it was built from changes), pack
    both as jars, and record a class-data-sharing archive of the classes
    a Spark session loads, so each run's JVM maps them instead of
    parsing and verifying them again."""
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((HERE / "src").rglob("*.scala"))
    if not main_src:
        die("no program sources under src/main/scala: run from the root of a graft checkout")
    jars = spark_jars()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for p in main_src + bench_src + sorted(resources.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(j.name for j in jars).encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "ok").exists():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = Path(f"{out}.tmp")
    cp = ":".join(str(j) for j in jars)
    t0 = time.time()
    for name, srcs, extra in (("main", main_src, ""), ("bench", bench_src, f"{tmp}/main:")):
        d = tmp / name
        d.mkdir(parents=True)
        rc = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-cp", str(jars[0].parent / "*"),
                             "scala.tools.nsc.Main", "-nowarn", "-d", str(d),
                             "-classpath", extra + cp] + [str(s) for s in srcs],
                            stdout=sys.stderr).returncode
        if rc != 0:
            die(f"compiling {name} sources failed", 1)
        with zipfile.ZipFile(tmp / f"{name}.jar", "w") as z:
            for root in (d, resources) if name == "main" else (d,):
                for f in sorted(root.rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(root))
    tmp.rename(out)
    work = BUILD / "run-train"
    shutil.rmtree(work, ignore_errors=True)
    java_run(out, work, ["--workload", "train"], [f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}"])
    (out / "ok").write_text(f"{time.time() - t0:.1f}\n")
    print(f"graftbench: built {out.name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def java_run(classes, work, args, jvm_opts=()):
    """Run graftbench.Main in its own process group with all its files
    under `work`; returns the exit code, or "timeout" once killed."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cp = ":".join([str(classes / "main.jar"), str(classes / "bench.jar"),
                   str(spark_jars()[0].parent / "*")])
    cmd = [java()] + [a for o in ADD_OPENS for a in ("--add-opens", o)] + list(jvm_opts) + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", cp, "graftbench.Main", "--work", str(work)] + args
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def plan(workload, seconds):
    """Sizing of the timed phase: a fixed amount of work, scaled from
    what --seconds 10 runs (2 pubsub rounds; 3 index probe batches with
    one absorb and one compaction; 2 rounds of the five registry
    operators), which took 8-23 s on a 4-core host."""
    def per10(n, low=1):
        return max(low, round(n * seconds / 10))
    if workload == "pubsub":
        return {"warm-rounds": gen.WARM_ROUNDS, "rounds": per10(2)}
    if workload == "index":
        return {"batches": per10(3, 2)}
    return {"rounds": per10(2), "operators": ",".join(REGISTRY_OPS)}


def inputs(workload, work, seed, sizes):
    if workload == "pubsub":
        gen.pubsub(work / "in", seed, sizes["rounds"])
    elif workload == "index":
        n = sizes["batches"]
        gen.index(work / "in", seed, probe_batches=n + 1, drift_batches=1)
    else:
        gen.registry(work / "in" / "tables", seed)


def run_jvm(classes, workload, seed, seconds, trace):
    work = BUILD / f"run-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    sizes = plan(workload, seconds)
    inputs(workload, work, seed, sizes)
    jsa = classes / "app.jsa"
    rc = java_run(classes, work, [
        "--workload", workload, "--seed", str(seed), "--trace", "1" if trace else "0"] +
        [a for k, v in sizes.items() for a in (f"--{k}", str(v))],
        [f"-XX:SharedArchiveFile={jsa}"] if jsa.exists() else [])
    if rc != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        die(f"JVM run failed ({rc})", 1)
    return work, json.loads((work / "result.json").read_text())


def end_to_end(workload, result, timed):
    # pubsub's timed operations are all rounds and registry's all
    # operator executions; index's unit operation is a served batch
    unit_ms = [o["ms"] for o in timed if workload != "index" or o["kind"] == "serve"]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "run_s": {"value": result["run_s"], "unit": "s"},
        "op_p50_ms": {"value": statistics.median(unit_ms), "unit": "ms"},
    }


def per_layer(bench, result):
    spans = result["spans"] or {}
    out = {}
    for m in bench["per_layer"]:
        span, counter = m["name"].rsplit(".", 1)
        out[m["name"]] = {"value": (spans.get(span) or {}).get(counter, 0), "unit": m["unit"]}
    return out


def once(args):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build()
    work, result = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace)
    verdict = checks.check(args.workload, work, result)
    timed = [o for o in result["ops"] if o["phase"] == "timed"]
    failed = sum(1 for i, o in enumerate(result["ops"])
                 if o["phase"] == "timed" and (o["error"] or i in verdict.failed_ops))
    metrics = per_layer(bench, result) if args.trace else end_to_end(args.workload, result, timed)
    if args.trace:
        trace_dir = BUILD / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"run_s": result["run_s"], "setup_s": result["setup_s"],
                        "spans": result["spans"]}, indent=1, sort_keys=True))
        print(f"graftbench: traced run_s={result['run_s']:.4f} setup_s={result['setup_s']:.4f}")
    for note in verdict.notes:
        print(f"graftbench: {note}")
    return {"correct": verdict.correct, "attempted": len(timed), "failed": failed,
            "metrics": metrics}, result


def self_check(args):
    spans = []
    for _ in range(2):
        args.trace = True
        out, result = once(args)
        spans.append(result["spans"])
        print(json.dumps(out))
    bad = []
    for name in sorted(set(spans[0]) | set(spans[1])):
        for c in DETERMINISTIC:
            a, b = (s.get(name, {}).get(c) for s in spans)
            if a != b:
                bad.append(f"{name}.{c}: {a} vs {b}")
    for b in bad:
        print(f"graftbench: self-check differs: {b}")
    print(f"graftbench: self-check {'FAILED' if bad else 'passed'}: "
          f"{len(spans[0])} spans x {len(DETERMINISTIC)} counters")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("pubsub", "index", "registry"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if args.self_check:
        self_check(args)
    out, _ = once(args)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
