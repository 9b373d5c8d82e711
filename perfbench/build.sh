#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/src) from source into the class directory $1, with the Scala
# compiler that ships among the Spark jars in directory $2 (the jars the
# program's own build compiles against).
set -euo pipefail
out="$1"
jars="$2"
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
if [ ! -d "$root/src/main/scala" ]; then
  echo "perfbench/build.sh: no program sources at $root/src/main/scala" >&2
  exit 2
fi
rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$here/src" -name '*.scala' > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out" "@$out.sources"
rm -f "$out.sources"
