#!/usr/bin/env bash
# Per-query profile and one-task heavy-stage audit (the round-13 AQE
# byte-vs-CPU bug class): prints each query's construct/plan/exec split,
# jobs, stages, tasks and top stages, and flags any stage coalesced to ONE
# task that burns > threshold CPU (exit 1 if any).
# Usage: tools/onetask.sh [sfDir] [thresholdMs] [query ...]
exec "$(dirname "$0")/java.sh" 48g graft.Profile "$@"
