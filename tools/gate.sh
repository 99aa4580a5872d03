#!/usr/bin/env bash
# End-of-round evidence, all at ONE HEAD, ATOMIC:
# full suite -> sf0.01 oracle gate -> sf1 oracle gate -> sf1 FULL-
# INVENTORY timing sweep -> d09 proportionality audit -> timed bench at
# sf0.1 and sf1, artifacts under bench/r<round>_*.
#
# Usage: tools/gate.sh <round>     e.g. tools/gate.sh 16
#
# Rules:
#  - the ONLY commit after this script completes is the artifact commit;
#  - any further operator work re-runs the script;
#  - a truncated artifact must never be committed: every oracle gate
#    asserts its footer reads "== N pass, 0 fail ==" with N equal to
#    the oracle count the Verify dump declared, the sweep must cover
#    every oracle query and pass its per-cell budget, and both bench
#    JSONs must parse with their runs files present — the script EXITS
#    NONZERO otherwise, so there is nothing plausible to commit.
set -euo pipefail
[[ $# -eq 1 && $1 =~ ^[0-9]+$ ]] || { echo "usage: $0 <round>" >&2; exit 2; }
export R="r$1"
# the generated sf0.01/sf0.1 tables the specs and benches read
TESTDATA=/root/testdata
cd "$(dirname "$0")/.."

echo "== HEAD: $(git rev-parse HEAD) =="

# footer_check <oracle_full.txt> <verify_out_dir>
footer_check() {
  local txt="$1" outdir="$2"
  python3 - "$txt" "$outdir" <<'EOF'
import json, re, sys
txt, outdir = sys.argv[1], sys.argv[2]
tail = open(txt).read().strip().splitlines()
assert tail, f"{txt}: empty artifact"
m = re.match(r"== (\d+) pass, (\d+) fail ==", tail[-1])
assert m, f"{txt}: no pass/fail footer (truncated artifact): last line {tail[-1]!r}"
npass, nfail = int(m.group(1)), int(m.group(2))
want = len(json.load(open(f"{outdir}/oracle_sql.json")))
assert nfail == 0, f"{txt}: {nfail} FAILURES"
assert npass == want, f"{txt}: {npass} pass != {want} oracle entries"
print(f"footer OK: {npass}/{want} pass, 0 fail")
EOF
}

echo "== 1/7 full suite =="
sbt -batch test 2>&1 | grep -E "Tests:|All tests|FAILED"

echo "== 2/7 sf0.01 oracle gate =="
rm -rf /tmp/verify_${R}_final
sbt -batch "runMain graft.Verify $TESTDATA/sf0.01 /tmp/verify_${R}_final" > /tmp/${R}_verify01.log 2>&1
python3 tools/check_oracle.py "$TESTDATA"/sf0.01 /tmp/verify_${R}_final | tee bench/${R}_sf01_oracle_full.txt | tail -2
footer_check bench/${R}_sf01_oracle_full.txt /tmp/verify_${R}_final

echo "== 3/7 sf1 oracle gate =="
rm -rf /tmp/verify_${R}_sf1
SPARK_DRIVER_MEM=16g sbt -batch "runMain graft.Verify data/sf1 /tmp/verify_${R}_sf1" > /tmp/${R}_verify_sf1.log 2>&1
python3 tools/check_oracle.py data/sf1 /tmp/verify_${R}_sf1 | tee bench/${R}_sf1_oracle_full.txt | tail -2
footer_check bench/${R}_sf1_oracle_full.txt /tmp/verify_${R}_sf1

echo "== 4/7 sf1 full-inventory timing sweep =="
SPARK_DRIVER_MEM=16g sbt -batch "runMain graft.Sweep data/sf1 bench/${R}_sf1_sweep.json" > /tmp/${R}_sweep.log 2>&1 || { tail -5 /tmp/${R}_sweep.log; exit 1; }
python3 - <<'EOF'
import json, os
BUDGET = 15.0
# cells allowed over budget, each with its committed audit note
# (r12 verdict #7: every cell >= 10 s carries a note or a fix)
AUDITED = {
  # d06: label-only-blocked exact near-dup — the DESIGNED-quadratic
  # exactness reference for d10 (SparkEntry.scala benchQueries comment);
  # demoted from the timed bench set by design, r9-r12 verdicts concur.
  "d06_embedding_neardup": 60.0,
  # q17: EXACT multi-column COUNT(DISTINCT) — the fixed-width Expand is
  # the honest cost of exactness; q34 is the documented HLL tier of the
  # same numbers for consumers that can trade exactness for speed.
  # Audited r12/r13: plan is Expand + two-level HashAggregate, no skew,
  # cost tracks data shape (distinct-combination count), not a defect.
  "q17_distinct_counts": 20.0,
  # q57: WindowGroupLimit-bounded argmin pre-exchange; plan audited
  # clean r8/r10/r11 — growth tracks (part, supplier) shape. Honest.
  "q57_cheapest_supplier": 18.0,
  # d03/d13: recurring LSH pair queries against the shared persisted
  # gram/signature stores; the timed figure INCLUDES the store build on
  # rep 1 of the sweep's single rep. Band joins keyed (band, id); shapes
  # verified scale-safe r10-r12. Honest store-build cost.
  "d03_minhash_lsh_pairs": 18.0,
  "d13_containment_complete": 18.0,
}
R = os.environ["R"]
sweep = json.load(open(f"bench/{R}_sf1_sweep.json"))
oracle = json.load(open(f"/tmp/verify_{R}_sf1/oracle_sql.json"))
missing = set(oracle) - set(sweep["queries"])
assert not missing, f"sweep missed {len(missing)} queries: {sorted(missing)[:5]}"
over = {q: t for q, t in sweep["queries"].items() if t > AUDITED.get(q, BUDGET)}
assert not over, f"cells over budget without an audit note: {over}"
tot = sum(sweep["queries"].values())
worst = sorted(sweep["queries"].items(), key=lambda kv: -kv[1])[:8]
print(f"sweep OK: {sweep['n_queries']} queries, total {tot:.1f}s, worst: " +
      ", ".join(f"{q}={t:.1f}s" for q, t in worst))
EOF

echo "== 5/7 d09 proportionality audit =="
sbt -batch "runMain graft.D09Audit $TESTDATA/sf0.1 /tmp/d09_sf0.1.json" > /tmp/${R}_d09a.log 2>&1
SPARK_DRIVER_MEM=16g sbt -batch "runMain graft.D09Audit data/sf1 /tmp/d09_sf1.json" > /tmp/${R}_d09b.log 2>&1
python3 - <<'EOF'
import json, os
a = json.load(open("/tmp/d09_sf0.1.json"))
b = json.load(open("/tmp/d09_sf1.json"))
# r13 reads: the 120-bit/4x30 sketch's collision probability per doc
# pair (the SF-invariant constant that was 2.3e-2 under 4x15) and the
# max bucket population (the collect_list skew guard's working set).
def p_pair(d):
    n = d["n_docs"]
    return d["collision_rows"] / (n * (n - 1) / 2)
out = {"sf0.1": a, "sf1": b,
       "true_pair_growth": round(b["true_pairs"] / max(1, a["true_pairs"]), 1),
       "collision_p_per_pair": {"sf0.1": round(p_pair(a), 8), "sf1": round(p_pair(b), 8)},
       "note": "the 4x15 layout's collision p was ~2.3e-4/2.3e-2 class; "
               "under 4x30 the per-pair collision probability must stay "
               "SF-flat at the ~4e-4 level and max_bucket far under the "
               "2^16 guard (DedupOps.scala d09 comment)"}
json.dump(out, open(f"bench/{os.environ['R']}_d09_proportionality.json", "w"), indent=1)
print(f"d09 audit: collisions {a['collision_rows']} -> {b['collision_rows']}, "
      f"p/pair {p_pair(a):.2e} -> {p_pair(b):.2e}, "
      f"max_bucket {a['max_bucket']} -> {b['max_bucket']}, "
      f"true pairs {a['true_pairs']} -> {b['true_pairs']}")
EOF

bench_run() { # sfdir tag
  SPARK_GRAFT_SF_DIR="$1" sbt -batch "runMain graft.Bench" > "/tmp/${R}_bench_$2.log" 2>&1
  cp bench/last_bench.json "bench/${R}_$2.json"
  grep -o 'runs {"runs":.*' "/tmp/${R}_bench_$2.log" | tail -1 | sed 's/^runs //' > "bench/${R}_$2_runs.json"
  grep -o 'rss {"rss_mb":.*' "/tmp/${R}_bench_$2.log" | tail -1 | sed 's/^rss //' > "bench/${R}_$2_rss.json"
  python3 - "$2" <<'EOF'
import json, os, sys
tag = sys.argv[1]
R = os.environ["R"]
d = json.load(open(f"bench/{R}_{tag}.json"))
r = json.load(open(f"bench/{R}_{tag}_runs.json"))
m = json.load(open(f"bench/{R}_{tag}_rss.json"))
assert d.get("queries") and d.get("value") is not None, f"bench/{R}_{tag}.json incomplete"
assert r.get("runs"), f"bench/{R}_{tag}_runs.json incomplete"
assert m.get("rss_mb"), f"bench/{R}_{tag}_rss.json incomplete"
# r12 verdict #5 acceptance: no cell's reps may grow monotonically >2x
grow = [k for k, v in r["runs"].items()
        if len(v) >= 3 and all(b > a for a, b in zip(v, v[1:])) and v[-1] > 2 * v[0]]
assert not grow, f"cells with monotonically growing reps >2x: {grow}"
rss = list(m["rss_mb"].values())
print(f"{tag} total", d["value"], len(d["queries"]), "cells,", len(r["runs"]),
      "runs rows, rss", rss[0], "->", rss[-1], "MB")
EOF
}

echo "== 6/7 bench sf0.1 =="
bench_run "$TESTDATA"/sf0.1 sf0.1

echo "== 7/7 bench sf1 =="
bench_run data/sf1 sf1

echo "== ALL GATES DONE + ARTIFACTS VERIFIED at $(git rev-parse HEAD) =="
echo "next (and ONLY) step: commit bench/${R}_* artifacts + STATUS.md"
