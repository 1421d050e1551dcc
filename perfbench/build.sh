#!/usr/bin/env bash
# Build file of the benchmark: compiles graft (src/main/scala) together with
# the benchmark runner (perfbench/src) into "$CARGO_TARGET_DIR/classes"
# (default .bench_build/classes) with the Scala compiler shipped in the
# Spark jars. Run from the repository root. A stamp of the sources' hash
# skips the compile when nothing changed.
#
# Spark jars: $SPARK_HOME/jars, else the directory the program's own
# build.sbt names as its unmanagedBase.
set -euo pipefail

out="${CARGO_TARGET_DIR:-.bench_build}"
if [[ -n "${SPARK_HOME:-}" ]]; then
  jars="$SPARK_HOME/jars"
else
  jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")/\1/p' build.sbt)
fi
if ! compgen -G "$jars/scala-compiler-*.jar" >/dev/null; then
  echo "build: no Spark jars with a Scala compiler in '$jars'" >&2
  exit 2
fi

mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat perfbench/build.sh "${srcs[@]}" | sha256sum | cut -c1-16)
if [[ -f "$out/classes/.stamp" && "$(cat "$out/classes/.stamp")" == "$stamp" ]]; then
  exit 0
fi

mkdir -p "$out"
tmp="$out/classes.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$tmp" "${srcs[@]}"
echo "$stamp" > "$tmp/.stamp"
echo "$jars" > "$tmp/.jars"
rm -rf "$out/classes"
mv "$tmp" "$out/classes"
