#!/bin/bash
# Local correctness loop: compile, run Verify at sf0.01, DuckDB-compare.
# Usage: tools/check.sh [sf] [query ...]
# With query names, BOTH Verify and the compare restrict to them — a
# scoped check runs in seconds instead of minutes.
set -e
cd /root/repo
SF="${1:-0.01}"
shift 2>/dev/null || true
# One owner per lifecycle decision: scratch deletion, session-cache
# identity and scoped conf (Tables.withConf) live in graft.Tables, SQL
# function registration in graft.GraftExtensions, and the one conf write on
# a caller's session — around a stream start — in StreamingQueries'
# startStream. newSession() would bypass the conf owner. The vector
# numerics and the serve cut (HALF_UP 6dp cosine, lower-id ties) live in
# graft.sources.Ann. The snapshot-table layout (`_snapshots/`, the
# per-version `data/v<N>` dirs) lives in graft.sources.SnapshotTable; the
# only other spellings are the two lines where m23 and m24 plant graded
# crash debris, marked `// graded crash debris`. The session's
# shuffle-partition count is read only by graft.Tables (coPartition and
# partitionCount; session builders' `.config(...)` and startStream's conf
# are writes), and the near-duplicate block key is spelled only in
# graft.functions.TextFunctions. A snapshot's data files are read by path
# (`resolveEntry(`) only inside SnapshotTable, whose read/readFiles/changes
# pick the reader from the table's metadata; the exceptions are m25's
# partitioned-generation read and DML's scan-path-to-entry map (it reads
# nothing), each marked with its trailing comment. Fail fast when a copy
# grows back elsewhere.
owned() { grep -rnE "$1" src/main --include='*.scala' | grep -vE "^src/main/scala/graft/($2):" || true; }
strays="$(owned 'def rmrf\b|System\.identityHashCode' Tables.scala
  owned 'createOrReplaceTempFunction' GraftExtensions.scala
  owned 'conf\.(set|unset)\(' 'Tables.scala|operators/StreamingQueries.scala'
  awk '/ def startStream\(/ {h = 1} h && /^  }$/ {h = 0}
    !h && /conf\.(set|unset)\(/ {print FILENAME ":" FNR ":" $0}' \
    src/main/scala/graft/operators/StreamingQueries.scala
  owned 'newSession\(\)' ''
  owned 'def (dotd|round6|topCells|queryVec)\b|cosine_sim\(transform\(embedding' \
    sources/Ann.scala
  owned 'conf\.get\("spark\.sql\.shuffle\.partitions"|numShufflePartitions|defaultParallelism' \
    Tables.scala
  owned 'substring\(lower\(col\("text"\)\), 1, 40\)' functions/TextFunctions.scala
  owned '"_snapshots"|data/v[$0-9(]|"data", "v' sources/SnapshotTable.scala |
    grep -vE '^src/main/scala/graft/operators/WarehouseQueries.scala:[0-9]+:.*// graded crash debris$' || true
  owned 'resolveEntry\(' sources/SnapshotTable.scala |
    grep -vE '^src/main/scala/graft/(operators/WarehouseQueries.scala:[0-9]+:.*// partitioned-generation read|plans/SqlDml.scala:[0-9]+:.*// scan path of an entry, no read)$' || true)"
if [ -n "$strays" ]; then
  echo "check.sh: code outside its owner:" >&2
  echo "$strays" >&2
  exit 1
fi
SFDIR="/root/testdata/sf$SF"
OUT="/tmp/graft_verify_sf$SF"
sbt -batch --error "set Compile/run/javaOptions += \"-Dderby.stream.error.file=/tmp/derby.log\"; runMain graft.Verify $SFDIR $OUT $*"
python3 tools/selfcheck.py "$SFDIR" "$OUT" "$@"
