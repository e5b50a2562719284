#!/bin/bash
# One-shot quality gate mirroring the driver's checks:
#   compile + tests + Verify@sf0.01 + DuckDB oracle diff + Bench@sf0.1
#   + per-query bench regression diff vs the newest BENCH_r{N}.json
# Run from /root/repo. Uses a throwaway sbt batch invocation (slower
# than the warm shell — prefer the tmux shell while iterating).
set -eo pipefail
cd "$(dirname "$0")/.."

# Environment-drift watch: record every testdata table's physical schema
# in the gate log. The generator changed events.ts from INT64-nanos to
# TIMESTAMP(MICROS) unannounced between rounds 7 and 8; when it changes
# again, this block plus the loader-level Tables.checkSchema turn the
# break into a one-line diagnosis instead of 31 Catalyst errors.
# Both dirs the gate exercises: Verify reads sf0.01, tests+Bench read
# $SPARK_GRAFT_SF_DIR (default sf0.1) — drift in either must show here.
python3 - <<'EOF'
import pyarrow.parquet as pq, glob, os
for d in dict.fromkeys(['/root/testdata/sf0.01',
                        os.environ.get('SPARK_GRAFT_SF_DIR',
                                       '/root/testdata/sf0.1')]):
    print(f'== testdata schemas ({os.path.basename(d)}) ==')
    for p in sorted(glob.glob(f'{d}/*.parquet')):
        s = pq.read_schema(p)
        cols = ', '.join(f'{f.name}:{f.type}' for f in s)
        print(f'  {os.path.basename(p)}: {cols}')
EOF

# The micro-batch sink policy (stream starter, per-batch partition
# write) lives in graft.streaming.MicroBatch alone: a stream that
# starts or writes its own batches outside it fails the gate.
if grep -rn -e 'foreachBatch' -e 'Trigger.AvailableNow' -e 'micro_batch_id=' src/main \
    | grep -v '^src/main/scala/graft/streaming/MicroBatch.scala:'; then
  echo "micro-batch sink policy outside streaming/MicroBatch.scala" \
    "(listed above): route the stream through MicroBatch" >&2
  exit 1
fi

# Native kernels are declared once (graftvec/NativeKernels.scala) and
# reach Spark through StaticInvoke: hand-written eval/codegen pairs
# stay in the two kernels that inline their own arithmetic, and every
# Column is built by the one bridge, GraftFunctions.column.
if grep -rn -e 'doGenCode' -e 'nullSafeEval' src/main \
    | grep -v -e '^src/main/scala/org/apache/spark/sql/graftvec/DotProduct.scala:' \
              -e '^src/main/scala/org/apache/spark/sql/graftvec/DoubleBucket.scala:'; then
  echo "hand-written eval/codegen outside DotProduct/DoubleBucket (listed above):" \
    "declare the kernel in NativeKernels instead" >&2
  exit 1
fi
if grep -rn 'ExpressionUtils.column' src/main \
    | grep -v '^src/main/scala/org/apache/spark/sql/graftvec/GraftFunctions.scala:'; then
  echo "Column bridge outside GraftFunctions.scala (listed above):" \
    "build the Column through GraftFunctions.column" >&2
  exit 1
fi

# one executor thread per core unless the caller pins SPARK_GRAFT_CPUS
# (nproc honours OMP_NUM_THREADS, so unset it for the count)
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)} \
  sbt "test" "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_v01" \
      "runMain graft.Explain /root/testdata/sf0.001 /tmp/gate_plans.md" \
      "runMain graft.Bench" \
  | tee /tmp/gate_out.txt
python3 tools/compare.py /root/testdata/sf0.01 /tmp/gate_v01

# Plan-discipline sweep over the plans as BUILT (not the committed
# PLANS.md, which may lag the code): no mid-plan shuffle may carry a
# raw text/payload/url column, no undeclared cartesian/BNLJ. This is
# the check that caught p4 shuffling text as a window rider in r14.
python3 tools/plan_discipline.py /tmp/gate_plans.md

# Plan drift: the `## <query>` sections whose operator tree (ids
# stripped) differs from the committed PLANS.md. A change that means
# to leave execution alone must list none; one that moves a plan on
# purpose regenerates PLANS.md and says why in CHANGES.md. Any drift
# fails the gate.
if ! python3 tools/plan_tree_diff.py PLANS.md /tmp/gate_plans.md; then
  echo "plan trees differ from PLANS.md (listed above): regenerate" \
    "PLANS.md with graft.Explain and explain the move in CHANGES.md" >&2
  exit 1
fi

# Size watch (advisory, fails nothing): src/main total and code
# lines, the figure ROADMAP aim 2 tracks.
python3 tools/loc.py src/main || echo "loc count failed (advisory)"

# Span-counter determinism watch (advisory, fails nothing): two traced
# graftbench `index` runs of one seed must agree on every span's jobs,
# stages, tasks, codegen compiles and shuffle bytes.
python3 graftbench/run.py --self-check --workload index --seed 7 \
  || echo "graftbench index self-check failed (advisory)"

# Regression watch: diff this run's bench line against the most recent
# LIVE reading per query across ALL driver-recorded rounds (>=2x
# per-query slowdowns exit nonzero). Passing every artifact closes the
# r9 blind spot where a query's r-1 entry was a failure stub and its
# real swing vs the last live round went unseen. Advisory only when no
# prior BENCH exists.
grep -o '{"metric".*}' /tmp/gate_out.txt | tail -1 > /tmp/gate_bench.json
benches=$(ls BENCH_r*.json 2>/dev/null | sort)
if [ -n "$benches" ] && [ -s /tmp/gate_bench.json ]; then
  # selftest first: proves the pinned-baseline fallback still closes
  # the truncated-history hole (a phantom-class query must flag even
  # when the caller passes only artifacts where it is phantom)
  python3 tools/bench_diff.py --selftest
  python3 tools/bench_diff.py $benches /tmp/gate_bench.json
fi
echo "GATE GREEN"
