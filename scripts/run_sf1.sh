#!/bin/bash
# Reproducible sf1 battery (r15): fixture -> engine Verify -> DuckDB
# oracle compare on every tractable twin -> ContractCheck -> merged
# CORRECTNESS_sf1_r{N}.json. Committed so the sf1 battery of record is
# reproducible from the repo alone (the r14 verdict's artifact gap).
#
# Usage: scripts/run_sf1.sh <round> [sfDir] [verifyOutDir]
# An existing verifyOutDir is reused (the engine pass is the long pole);
# delete it to force a re-run.
set -e
N=${1:?round number, e.g. 15}
SF=${2:-/tmp/graft_sf1}
OUT=${3:-/tmp/sf1_verify_out}

[ -f "$SF/documents.parquet" ] || python3 scripts/gen_sf1.py "$SF"
if [ ! -f "$OUT/oracle_sql.json" ]; then
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} bash scripts/verify.sh "$SF" "$OUT"
fi

# Split the oracle set by MEASURED DuckDB cost at sf1 (each twin timed
# in isolation, 90 s budget, threads=8 — re-measure when a twin
# changes). r17: the list is EMPTY — the 13 r15-intractable twins all
# became tractable without weakening a single gate (each rewrite
# measured at sf1 and byte-compared equal to the engine result first):
#   - d02/d03/d09/d19/d21/d23/d25 + d10/d11: the exact-Jaccard chain
#     now MATERIALIZEs the shingle table once (the naive CTE re-derived
#     it 4x), joins on dense int shingle ids, and MATERIALIZEs jp
#     (d21's pagerank rounds re-evaluated the whole pair derivation per
#     iteration - >590 s -> 53 s). Same pair set, provably: the id
#     mapping is a bijection and jp's filter is untouched.
#   - t23/t24: every BPE round CTE is MATERIALIZED - the un-hinted
#     chain re-inlined the whole history per round (2^8 blowup, >90 s);
#     materialized it is 8 linear vocab passes (0.3 s / 1.5 s).
#   - mm06: the oracle now replays the engine's own deterministic band
#     blocking (hamming<=7 over 8 bands pigeonholes one equal band, so
#     the candidate set provably contains every answer pair) - 16.5 s.
#   - mm13: bounding the stressor input at doc_id < 5000 (the r16
#     verdict's weak) made the existing all-pairs twin tractable
#     outright (5.5 s).
# The planted-fixture contracts (ContractCheck) still run on top as
# independent gates. If a future fixture regen pushes a twin back over
# budget, re-add it here with the measured number.
EXEC_ONLY=""

python3 - "$OUT" "$EXEC_ONLY" <<'PY'
import json, os, sys
out, exec_only = sys.argv[1], set(sys.argv[2].split())
# Idempotent (r15 advice): on a rerun oracle_sql.json is already the
# filtered subset — the FULL record lives in oracle_sql_full.json, so
# filter from that when present and never overwrite it with a subset.
full_path = f"{out}/oracle_sql_full.json"
if os.path.exists(full_path):
    full = json.load(open(full_path))
else:
    full = json.load(open(f"{out}/oracle_sql.json"))
    json.dump(full, open(full_path, "w"))
kept = {k: v for k, v in full.items() if k not in exec_only}
json.dump(kept, open(f"{out}/oracle_sql.json", "w"))
print(f"oracle set: {len(kept)} of {len(full)} "
      f"({len(full)-len(kept)} exec-only by measured twin cost)")
PY

python3 scripts/check.py "$SF" "$OUT" /tmp/sf1_check.json

ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED"
CP="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
java $ADD_OPENS -Xmx8g -cp "$CP" graft.tools.ContractCheck "$OUT" /tmp/sf1_contracts.json

python3 scripts/merge_sf1.py "CORRECTNESS_sf1_r${N}.json" /tmp/sf1_check.json \
  --exec-only "$OUT" --contracts /tmp/sf1_contracts.json
