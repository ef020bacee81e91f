#!/usr/bin/env bash
# Per-round close-out gate battery (r13 verdict item 7): the three
# standing plan/runtime fences, run in cost order, failing fast —
#   1. smoke.sh            whole catalog at sf0.001: schema drift,
#                          cartesian/global-window/output-type lints
#   2. scalesweep.sh       sf1 timing and audit sweep: as-run shape
#                          flips sf0.1 -> sf1, Smoke.audit on every sf1
#                          frame (exit 2 on a violation)
#   3. onetask.sh          runtime one-task-heavy-stage audit at sf1
#                          (the AQE byte-blind-coalesce class)
# The onetask report is tee'd to tools/onetask_last.txt so the 0-flag
# run is a committed per-round artifact.
set -euo pipefail
cd "$(dirname "$0")/.."
tools/smoke.sh
tools/scalesweep.sh
tools/onetask.sh target/sf1 2000 | tee tools/onetask_last.txt
