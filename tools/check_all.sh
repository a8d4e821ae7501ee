#!/bin/bash
# Full local gate: rename, parquet-read, session-builder, footer-open, codegen-fallback and landing-memo lints → compile → tests → verify+oracle (sf0.01) → bench (sf0.1).
# Mirrors the driver's per-round checks; exits non-zero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== lint: unchecked Hadoop renames ==="
# FileSystem.rename signals failure by RETURNING FALSE; a statement that
# starts with `fs.rename(` discards it, so a failed publish rename would
# drop data silently. Check the result and throw (CommitProtocol's
# replacePartition, IngestCommit's publishStaged).
if grep -rnE '^[[:space:]]*fs\.rename\(' src/main/scala; then
  echo "FAIL: unchecked fs.rename result in src/main/scala"
  exit 1
fi
echo "ok"

echo "=== lint: Parquet reads outside the footer seam ==="
# A plain `spark.read.parquet(p)` infers its schema with a Spark job
# that only opens one file footer. Reads go through Tables.parquet,
# which opens that footer on the driver. Reads that carry options
# (mergeSchema, pathGlobFilter) or pin a schema do not match.
if grep -rnE '\.read\.parquet\(' src/main/scala --exclude=Tables.scala; then
  echo "FAIL: spark.read.parquet outside Tables.scala; use Tables.parquet"
  exit 1
fi
echo "ok"

echo "=== lint: SparkSession builders outside the session factory ==="
# Every main builds its session through Tables.localSession, so all of
# them run one engine configuration (slots, time zone, codegen cache,
# scratch, warehouse). Scaladoc and line comments do not match.
if grep -rnE 'SparkSession\.builder' src/main/scala --exclude=Tables.scala \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//)'; then
  echo "FAIL: SparkSession.builder outside Tables.scala; use Tables.localSession"
  exit 1
fi
echo "ok"

echo "=== lint: Parquet footer opens without read options ==="
# ParquetFileReader.open(file) builds default read options from a fresh
# Hadoop Configuration, re-parsing the XML defaults on every footer
# open. Pass Tables.readOptions(conf) as the second argument. A call
# whose first argument is followed by a top-level comma (one level of
# nested parentheses) passes; scaladoc and line comments do not match.
if grep -rnE 'ParquetFileReader\.open\(' src/main/scala \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/?\*|//)' \
    | grep -vE 'ParquetFileReader\.open\([^()]*(\([^()]*\)[^()]*)*,'; then
  echo "FAIL: one-argument ParquetFileReader.open in src/main/scala; pass Tables.readOptions(conf)"
  exit 1
fi
echo "ok"

echo "=== lint: custom expressions without generated code ==="
# An expression mixing in CodegenFallback keeps the operator that holds
# it out of whole-stage codegen, which splits the stage. Custom
# expressions extend graft.functions.KernelExpression, whose generated
# code calls the same Scala body as eval. Comments match too.
if grep -rn 'CodegenFallback' src/main/scala; then
  echo "FAIL: CodegenFallback in src/main/scala; extend KernelExpression"
  exit 1
fi
echo "ok"

echo "=== lint: session memos outside the landing seam ==="
# Session-scoped reuse of computed state goes through Landing in
# CacheOps.scala: one map, one source fingerprint, a lock per key, and
# an entry recorded only after its generator returns. A hand-rolled
# `putIfAbsent(` flag set before the write, or a `.compute(` that runs
# the generator inside a map update, is the pattern it replaced.
# Bucketing.scala is excluded: its map records what the warehouse's
# fixed-name tables hold, which a per-key fingerprint cannot express.
# Scaladoc and line comments do not match.
if grep -rnE 'sourceFingerprint\(|putIfAbsent\(|\.compute\(' src/main/scala \
    --exclude=CacheOps.scala --exclude=Bucketing.scala \
    | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/?\*|//)'; then
  echo "FAIL: session memo outside CacheOps.scala; land through graft.operators.Landing"
  exit 1
fi
echo "ok"

echo "=== compile + test ==="
test_log=$(mktemp)
if ! sbt -batch test > "$test_log" 2>&1; then
  grep -E 'Tests:|\*\*\* FAILED|\[error\]' "$test_log" | tail -20
  echo "FAIL: sbt test"
  exit 1
fi
grep -E 'Tests:' "$test_log" | tail -1

echo "=== verify @ sf0.01 ==="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/check_verify" \
  > /tmp/check_verify.log 2>&1
grep -E '\[verify\]' /tmp/check_verify.log || true
python3 tools/local_verify.py /root/testdata/sf0.01 /tmp/check_verify | tail -3

echo "=== scenario-set regression vs latest CORRECTNESS artifact ==="
# round 7 regressed 21 scenarios invisibly: queries that crash produce
# no output dir, and a correctness artifact built from the survivors
# still reads "0 mismatches". Fail if any scenario present in the most
# recent CORRECTNESS_r*.json is absent from this run's output set.
python3 - <<'EOF'
import glob, json, os, sys
arts = sorted(glob.glob('CORRECTNESS_r*.json'))
if not arts:
    print('no prior CORRECTNESS artifact; skipping diff'); sys.exit(0)
prior = set(json.load(open(arts[-1])).keys())
now = {os.path.basename(p) for p in glob.glob('/tmp/check_verify/*') if os.path.isdir(p)}
missing = sorted(prior - now)
if missing:
    print(f'FAIL: {len(missing)} scenario(s) in {arts[-1]} missing from this run: {missing}')
    sys.exit(1)
print(f'ok: all {len(prior)} scenarios from {arts[-1]} present ({len(now)} total now)')
EOF

echo "=== bench @ sf0.1 ==="
# ONE round-number derivation for the whole gate (round-11 ADVICE):
# computed here, passed to Bench (which writes BENCH_r{N}_full.json)
# and reused by the sync assert below — the two can no longer drift.
GRAFT_ROUND=$(python3 - <<'EOF'
import glob, re
rounds = [int(m.group(1)) for p in glob.glob('BENCH_r[0-9]*.json')
          if (m := re.match(r'BENCH_r(\d+)\.json$', p))]
print(max(rounds) + 1 if rounds else 1)
EOF
)
echo "round: $GRAFT_ROUND"
SPARK_GRAFT_ROUND=$GRAFT_ROUND SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" \
  2>&1 | grep -oE '\{"metric".*\}$' > /tmp/check_bench.json
python3 - <<'EOF'
import json
line = open('/tmp/check_bench.json').read().strip()
# the stdout line must FIT the driver's 2000-char tail or the round
# artifact records parsed:null (the r8 failure mode)
assert len(line) <= 1900, f'compact bench line too long: {len(line)} chars'
d = json.loads(line)
errs = d.get('errors') or {}
if errs:
    raise SystemExit('BENCH FAILURES: ' + json.dumps(errs))
# the complete per-query map must exist in BENCH_full_latest.json and
# cover the whole suite
f = json.loads(open('BENCH_full_latest.json').read())
assert len(f['queries']) == f['n_queries'] == d['n_queries'], 'full artifact incomplete'
print('total %.1fs over %d queries (compact line %d chars, lists %d, omitted_max %.3fs)' % (
    d['value'], d['n_queries'], len(line), len(d['queries']), d['omitted_max']))
EOF

echo "=== round-named full bench artifact in sync ==="
# graft.Bench itself writes BENCH_r{N}_full.json alongside
# BENCH_full_latest.json on every full-suite run (same run, so the pair
# cannot de-sync — round-10 verdict #2: the old mid-gate copy went stale
# when a later bench re-ran). This step ASSERTS the three artifacts
# carry the same run: n_queries AND total value.
GRAFT_ROUND=$GRAFT_ROUND python3 - <<'EOF'
import json, os
n = int(os.environ['GRAFT_ROUND'])  # the gate's ONE derivation, above
full = json.load(open('BENCH_full_latest.json'))
rn = json.load(open(f'BENCH_r{n:02d}_full.json'))
compact = json.load(open('/tmp/check_bench.json'))
assert full['n_queries'] == compact['n_queries'] == rn['n_queries'] == len(full['queries']), \
    f"bench artifacts disagree on count: full={full['n_queries']} round={rn['n_queries']} compact={compact['n_queries']}"
assert full['value'] == rn['value'] == compact['value'], \
    f"bench artifacts carry different runs: full={full['value']} round={rn['value']} compact={compact['value']}"
print(f"in sync: BENCH_r{n:02d}_full.json == BENCH_full_latest.json "
      f"({full['n_queries']} queries, total {full['value']:.1f}s)")
EOF
echo "ALL GREEN"
