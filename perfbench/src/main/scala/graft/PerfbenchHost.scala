package graft

/** The host canaries `graft.Bench` records, reachable from the benchmark
  * (they are package-private to `graft`). Recorded next to every run;
  * never used to adjust a measured number. */
object PerfbenchHost {
  def cpuCanary(): Double = Bench.cpuCanary()
  def membwCanary(): Double = Bench.membwCanary()
  def membwParCanary(): Double = Bench.membwParCanary()
  def membwParThreads: Int = Bench.membwParThreads
}
