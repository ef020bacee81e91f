#!/usr/bin/env bash
# Pre-commit smoke: whole catalog end-to-end at sf0.001 (~1 min).
# Catches driver-testdata schema drift (the round-6 NTZ regression class)
# and accidental cartesian plans before they reach the round gate.
exec "$(dirname "$0")/java.sh" 8g graft.Smoke "${1:-/root/testdata/sf0.001}"
