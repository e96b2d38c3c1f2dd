# Sourced by the run scripts. Sizes the JVM from the host it runs on, the
# same way the tier-1 test command does: SPARK_GRAFT_CPUS defaults to nproc,
# the heap (SPARK_DRIVER_MEM) to half of MemTotal clamped to 2-8 GiB. Sets
# GRAFT_ROOT (the repo) and GRAFT_JAVA, the java command line with that heap
# and the shared --add-opens argfile (project/add-opens.args).
GRAFT_ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
GRAFT_JAVA=(java "-Xmx$SPARK_DRIVER_MEM" "@$GRAFT_ROOT/project/add-opens.args")
