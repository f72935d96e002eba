#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark (perfbench/src)
# with the Scala compiler that ships in the Spark distribution, into
# <build_dir>/classes and <build_dir>/bench-classes. A build is skipped
# when the sources' hash matches the one recorded by the last build.
#
# Usage: perfbench/build.sh <build_dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
cd "$root"
[ -d src/main/scala ] || { echo "build: no src/main/scala under $root" >&2; exit 2; }
[ -d "$jars" ] || { echo "build: no Spark jars at $jars" >&2; exit 2; }

engine=$(find src/main/scala -name '*.scala' | LC_ALL=C sort)
bench=$(find perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $engine $bench perfbench/build.sh | sha256sum | cut -c1-16)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi

scalac() { java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn "$@"; }
rm -rf "$out/classes" "$out/bench-classes" "$out/stamp"
mkdir -p "$out/classes" "$out/bench-classes"
scalac -d "$out/classes" $engine
scalac -cp "$out/classes" -d "$out/bench-classes" $bench
echo "$stamp" > "$out/stamp"
