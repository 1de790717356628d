#!/usr/bin/env bash
# Property battery: the fold/splice/refresh equivalence properties guard
# the hardest invariants in the engine (SCD2 fold and backfill splice ==
# pure-Python in-order fold, MV incremental == full recompute, CDC fold
# == pure-Python fold, ...).
# The default per-run budget (5 examples) is deliberately small so the
# regular suite stays fast — this script re-runs JUST those properties
# with a 100-example budget and a fixed derandomized seed.  Run it once
# per round; record the result in NOTES_r{N}.md.  Found counterexamples
# land in .hypothesis/examples (checked in) and replay first on every
# later run, so a falsified property stays falsified across sessions.
set -euo pipefail
cd "$(dirname "$0")/.."
rc=0
SPARK_GRAFT_EXAMPLES="${SPARK_GRAFT_EXAMPLES:-100}" \
python -m pytest tests/test_properties.py \
    -k "fold or refresh or splice or backfill or row_tracking or manifest or vacuum_lite or txn_staging or cdf_values" \
    -q "$@" || rc=$?
# r12 hygiene (VERDICT r11 item 7): hypothesis prunes/regenerates its
# checked-in example DB during the run; restore it so the battery
# leaves a CLEAN tree and the falsifier corpus never drifts from what
# is committed.  A genuinely NEW counterexample shows up as an
# UNTRACKED file and survives this restore — commit it.
git checkout -- .hypothesis/ 2>/dev/null || true
exit $rc
