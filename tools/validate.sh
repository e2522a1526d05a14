#!/bin/sh
# Full release gate — everything the per-round review checks, in the
# order that catches problems cheapest-first. Run on an otherwise-idle
# box (bench totals drift with load; see PERF.md).
#
#   sh tools/validate.sh            # ~25 min
#
# Lessons baked into the order:
# - the sf0.1 sweep is NOT redundant with sf0.01 (it caught a
#   recursive-CTE oracle regression the small sweep missed);
# - explain_audit must run in FULL after any plan-affecting change
#   (a single-query audit passed while the full run caught a
#   localCheckpoint-induced sort-merge-join regression).
set -e
cd "$(dirname "$0")/.."

echo "== oracle sweep sf0.01 =="
python tools/check_correctness.py /root/testdata/sf0.01

echo "== oracle sweep sf0.1 =="
python tools/check_correctness.py /root/testdata/sf0.1

echo "== plan gates =="
python tools/explain_audit.py

echo "== pytest =="
python -m pytest tests/ -q

echo "== perfbench correctness (all four workloads, smoke size) =="
python3 perfbench/run.py --smoke

echo "== bench (sf0.1) =="
python bench.py

echo "ALL GATES GREEN"
