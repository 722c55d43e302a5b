# Sourced by tools/bench.sh and tools/verify.sh: the JDK 17 module opens Spark needs
# when it runs outside spark-submit (the list build.sbt forks tests with), and
# the driver heap. GraftSession hands the opens on to local-cluster executor JVMs.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Driver heap: SPARK_DRIVER_MEM when set, else half of MemTotal clamped to
# 2-8 g (the same default the Tier-1 test command derives).
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
