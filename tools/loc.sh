#!/usr/bin/env bash
# Line counts of the program's Scala sources.
# Usage: tools/loc.sh
#
# Prints, for each group, all lines and code lines. A code line is any line
# that is not blank, not a `//` comment line, and not inside a `/* */` or
# `/** */` block comment; the lines that open and close a block count as
# inside it. A line that starts with code and carries a comment counts as code.
#
# Groups:
#   src/main  every .scala file under src/main
#   pipeline  the pipeline proper: pipeline/, meta/MetadataLedger.scala,
#             sources/ParquetLake.scala, the lake's read index
#             sources/LakeFileIndex.scala and its bridge into Spark,
#             org/apache/spark/sql/execution/datasources/GraftFileIndexBridge.scala
set -euo pipefail
cd "$(dirname "$0")/.."
main=src/main/scala/graft

report() {
  local name=$1; shift
  awk -v name="$name" '
    { all++ }
    inBlock { if (index($0, "*/")) inBlock = 0; next }
    /^[ \t]*$/ || /^[ \t]*\/\// { next }
    /^[ \t]*\/\*/ { if (!index(substr($0, index($0, "/*") + 2), "*/")) inBlock = 1; next }
    { code++ }
    END { printf "%-9s %7d %7d\n", name, all, code }' "$@"
}

printf '%-9s %7s %7s\n' group lines code
report src/main $(find src/main -name '*.scala' | sort)
report pipeline $(find "$main/pipeline" -name '*.scala' | sort) \
  "$main/meta/MetadataLedger.scala" "$main/sources/ParquetLake.scala" \
  "$main/sources/LakeFileIndex.scala" \
  src/main/scala/org/apache/spark/sql/execution/datasources/GraftFileIndexBridge.scala
