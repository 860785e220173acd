#!/usr/bin/env bash
# Freeze sweep: regenerate every committed ladder/floor/receipt artifact
# at the current HEAD, sequentially (concurrent Spark jobs would
# contaminate each other's timings): floors x4, rate receipt, skew,
# spill, the dim/doclen/jsonsize axes, state x2, batches.
set -e
cd "$(dirname "$0")/.."
log() { echo "[sweep $(date +%H:%M:%S)] $*"; }

log "streaming_floors cpus32"; python tools/streaming_floors.py
log "streaming_floors cpus8";  SPARK_GRAFT_CPUS=8 python tools/streaming_floors.py
log "streaming_floors hdfs";   python tools/streaming_floors.py --provider hdfs
log "streaming_floors rocksdb"; python tools/streaming_floors.py --provider rocksdb
log "rate_receipt";            python tools/rate_receipt.py
log "session skew";            python tools/profile_session_skew.py
log "scale_spill";             python tools/scale_spill.py
log "axis_ladder";             python tools/axis_ladder.py
log "scale_state hdfs";        python tools/scale_state.py
log "scale_state rocksdb";     python tools/scale_state.py --provider rocksdb
log "scale_batches";           python tools/scale_batches.py
log "staleness check";         python tools/artifact_staleness.py
log "done"
