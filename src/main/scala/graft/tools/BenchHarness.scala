package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.corpus.Corpus

/** Shared plumbing for `graft.Bench`, the perfbench workloads and the
  * tool mains: the /dev/shm fallback, the _SUCCESS-guarded one-time corpus
  * staging, the clear-then-rebuild session restart, timing, percentiles
  * and the machine-speed canary, each defined once. */
object BenchHarness {

  /** RAM-backed work root (stand-in for a cluster node's local NVMe);
    * not every host mounts /dev/shm. */
  def tmpfsRoot: String =
    if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"

  /** Fresh local[cpus] session replacing any active one; shuffle
    * partitions pinned to the thread count. */
  def session(appName: String, cpus: Int, localDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Wall-clock a block: (result, seconds). One home for the smoke/bench
    * tools' timing helper (a clock-source change must not need five
    * synchronized edits). */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Stage the seeded corpus to parquet ONCE (_SUCCESS-guarded): build
    * benchmarks measure docs/sec indexed from a stored table — corpus
    * generation must never contaminate the timing. */
  def stageCorpus(spark: SparkSession, base: String, docs: Long): String = {
    val corpusDir = s"$base/corpus-$docs"
    if (!Files.exists(Paths.get(corpusDir, "_SUCCESS")))
      Corpus.pages(spark, docs, seed = 42, numPartitions = 32)
        .select("url", "text").write.mode("overwrite").parquet(corpusDir)
    corpusDir
  }

  /** Machine-speed canary: a fixed single-thread CPU score (splitmix64
    * steps/us) and a memory-bandwidth score (GB/s summing a 256 MB long
    * array), stamped into every bench JSON. Cross-round comparisons on
    * this shared VM keep dissolving into "the host was 15-25% slow that
    * day" — the canary lets BASELINE.md normalize round-over-round tables
    * by measured machine speed instead of guessing. Warmup pass + best of
    * two measured passes (interference only ever slows it down, so max is
    * the honest machine estimate); ~5 s total. */
  def canary(): (Double, Double) = {
    def cpuOnce(): Double = {
      val iters = 200000000L
      var h = 0x123456789abcdefL
      val t0 = System.nanoTime()
      var i = 0L
      while (i < iters) {
        h += 0x9e3779b97f4a7c15L
        h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
        h ^= (h >>> 27); h *= 0x94d049bb133111ebL
        h ^= (h >>> 31)
        i += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (h == 42L) print("") // defeat dead-code elimination
      iters / sec / 1e6
    }
    def memOnce(arr: Array[Long]): Double = {
      val passes = 4
      val t0 = System.nanoTime()
      var acc = 0L
      var p = 0
      while (p < passes) {
        var i = 0
        while (i < arr.length) { acc += arr(i); i += 1 }
        p += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) print("")
      passes.toDouble * arr.length * 8 / sec / 1e9
    }
    val arr = new Array[Long](32 * 1024 * 1024) // 256 MB, defeats caches
    java.util.Arrays.fill(arr, 7L)
    cpuOnce(); memOnce(arr) // JIT warmup
    val cpu = math.max(cpuOnce(), cpuOnce())
    val mem = math.max(memOnce(arr), memOnce(arr))
    (cpu, mem)
  }

  def deleteDir(dir: String): Unit =
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()

  /** Median IS pctl(·, 50) — the nearest-rank LOWER median for even n.
    * Defining it independently (index n/2 = the upper median) made the
    * reported "p50" and "median" different order statistics on the same
    * 20-sample latency sets despite the ONE-definition goal. */
  def median(xs: Seq[Double]): Double = pctl(xs.sorted, 50)

  /** Nearest-rank percentile over a SORTED sample: the p-th percentile is
    * the ceil(p/100*n)-th order statistic — index ceil(...)−1. The naive
    * (n*p)/100 index reads the MAXIMUM as "p95" at n=20, which on a noisy
    * shared host reports exactly the outlier a percentile exists to
    * exclude. ONE definition for every benchmark (Bench, perfbench) so
    * cross-tool p50/p95 comparisons compare the same order statistic.
    * Empty samples are a caller bug — fail loudly, not with an opaque
    * IndexOutOfBounds. */
  def pctl(sorted: Seq[Double], p: Int): Double = {
    require(sorted.nonEmpty, s"pctl(p=$p) over an empty sample")
    sorted(math.ceil(p / 100.0 * sorted.length).toInt - 1)
  }
}
