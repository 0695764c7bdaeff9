#!/bin/bash
# Same-session bench pair at one SF: certified graft.Bench, then the
# DuckDB baseline on the SAME oracle SQL, back-to-back on a quiet box
# so both artifacts carry the same data_fp (BASELINE.md comparability
# rule). Serializes on the graft lock via tools/run.sh; the DuckDB leg
# additionally takes the duck lock. Cores and heap default to the
# machine's (graft.Session, tools/run.sh); DuckDB picks its own memory
# limit from the machine.
# Usage: tools/bench_pair.sh <sf_dir> <graft_out.json> <duck_out.json> [duck_reps]
# pipefail: a Bench that cannot start must stop the script, not hand
# `tail`'s exit status on to an empty $GOUT and a DuckDB leg
set -eo pipefail
cd "$(dirname "$0")/.."
SF=$1; GOUT=$2; DOUT=$3; REPS=${4:-3}
SQL=${ORACLE_SQL_JSON:-target/verify/oracle_sql.json}
if [ ! -f "$SQL" ]; then
  echo "bench_pair: oracle SQL $SQL not found; write it first with" \
    "tools/run.sh graft.Verify <sf_dir> target/verify, or set ORACLE_SQL_JSON" >&2
  exit 1
fi
SPARK_GRAFT_SF_DIR="$SF" tools/run.sh graft.Bench 2>/dev/null | tail -1 > "$GOUT"
cat "$GOUT"
flock -w 86400 target/.duck.lock \
  python3 tools/baseline_duckdb.py "$SF" "$SQL" "$REPS" > "$DOUT"
cat "$DOUT"
