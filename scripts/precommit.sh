#!/usr/bin/env bash
# Pre-commit gate: selfcheck the queries touched since the last commit
# (plus any explicitly named) against the DuckDB oracle, then run the
# fast non-Spark-heavy test slice. Rounds 3 and 4 both shipped their
# final commit with oracle/doc drift that one selfcheck run would have
# caught — this script exists so that cannot happen again.
#
# Usage:
#   scripts/precommit.sh                 # registry pins + full sf0.001 sweep
#   scripts/precommit.sh q1 q2 ...       # registry pins + named queries at
#                                        # sf0.001, then their
#                                        # REGISTRY_VERIFY.json rows at
#                                        # sf0.01 (same check; non-zero
#                                        # exit on any mismatch)
#
# Full `pytest tests/ -x -q` (~12 min) is still required before the
# end-of-round snapshot; this gate is the per-commit floor.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== registry pins + doc-drift guards =="
python -m pytest tests/test_registry.py -x -q

if [ "$#" -gt 0 ]; then
    echo "== selfcheck (named queries) sf0.001 =="
    python scripts/selfcheck.py /root/testdata/sf0.001 "$@"
    echo "== registry snapshot refresh (named queries) =="
    python scripts/registry_verify.py /root/testdata/sf0.01 "$@"
else
    echo "== selfcheck (full registry) sf0.001 =="
    python scripts/selfcheck.py /root/testdata/sf0.001
fi
echo "precommit gate: OK"
