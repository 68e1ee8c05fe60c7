#!/bin/bash
# Usage: tools/mask_plan.sh <PlanDump file>
# Prints the file with its run-specific tokens masked (expression, plan
# and RDD ids, lambda variable numbers, per-run scratch dir names and
# UUIDs), so two dumps of the same code diff empty.
sed -E 's/#[0-9]+L?/#N/g; s/\b(x|y|acc|z)_[0-9]+/\1_N/g; s/\[[0-9]+\] at /[N] at /g; s/plan_id=[0-9]+/plan_id=N/g; s/run-[0-9a-f]{8}/run-X/g; s#/tmp/plandump[0-9]+#/tmp/plandumpX#g; s/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g' "$1"
