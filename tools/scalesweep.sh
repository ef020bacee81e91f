#!/usr/bin/env bash
# Full-catalog sf1 scaling sweep (builds target/sf1 from sf0.1 on first
# run, ~10x every table with referential integrity). Pass query names to
# restrict. Results are pasted into SCALING.md.
exec "$(dirname "$0")/java.sh" 48g graft.ScaleSweep "$@"
