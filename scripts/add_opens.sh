# Sourced by the java launchers in this directory: sets ADD_OPENS to the
# --add-opens flags Spark 4 needs on JDK 17 when a SparkSession is
# created outside spark-submit (the same list as jdk17AddOpens in
# build.sbt).
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
