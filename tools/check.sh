#!/bin/sh
# Pre-commit green gate — run before ANY snapshot/milestone commit.
#
# Round 3's only real failure was a final commit shipped without
# re-running the tests (the cui_num leak: flagship, bench, and 17
# tests broken by a two-line omission). This script is the guard:
#   1. the pipeline-touching test files (fast subset, -x),
#   2. one live flagship materialization (kg_pipeline_triples) so a
#      plan-time AnalysisException cannot hide behind mocked units.
#
# Usage:  sh tools/check.sh         (from the repo root)
#         FULL=1 sh tools/check.sh  (full pytest run instead of subset)
set -e
cd "$(dirname "$0")/.."

if [ -n "$FULL" ]; then
    python -m pytest tests/ -q
else
    python -m pytest -x -q \
        tests/test_normalize.py \
        tests/test_abbrev.py \
        tests/test_pipeline.py \
        tests/test_canonicalize.py \
        tests/test_entry.py::test_entry_smoke
fi

python - <<'EOF'
from bern2_spark.queries import QUERIES
from bern2_spark.session import get_spark

spark = get_spark("check-gate")
n = QUERIES["kg_pipeline_triples"](spark, "/root/testdata/sf0.001").count()
assert n > 0, "flagship produced no triples"
print(f"check.sh: flagship kg_pipeline_triples green ({n} triples)")
spark.stop()
EOF
echo "check.sh: ALL GREEN"
