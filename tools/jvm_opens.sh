# Sourced by tools/bench.sh and tools/verify.sh: the JDK 17 module opens Spark needs
# when it runs outside spark-submit (the list build.sbt forks tests with).
# GraftSession hands the same flags on to local-cluster executor JVMs.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
