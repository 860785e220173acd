#!/usr/bin/env bash
# Freeze sweep: regenerate every committed ladder artifact
# at the current HEAD, sequentially (concurrent Spark jobs would
# contaminate each other's timings): spill, the dim/doclen/jsonsize
# axes, state x2, batches.
set -e
cd "$(dirname "$0")/.."
log() { echo "[sweep $(date +%H:%M:%S)] $*"; }

log "scale_spill";             python tools/scale_spill.py
log "axis_ladder";             python tools/axis_ladder.py
log "scale_state hdfs";        python tools/scale_state.py
log "scale_state rocksdb";     python tools/scale_state.py --provider rocksdb
log "scale_batches";           python tools/scale_batches.py
log "staleness check";         python tools/artifact_staleness.py
log "done"
