package routerbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** A benchmark workload: `prepare` is the timed set-up (inputs generated
  * and materialized, then a warm-up), `run` measures for the given
  * seconds. A non-empty tracer means a traced run. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double, tracer: Option[SparkCounters]): Outcome
  def close(): Unit
}

/** End-to-end metrics (without set-up and memory), per-layer metrics and
  * sample counts of one measured run. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                         samples: Map[String, Double])

object Outcome {
  /** Per-key median over per-batch maps (keys missing from a map are skipped). */
  def medians(maps: Seq[Map[String, Double]]): Map[String, Double] =
    maps.flatMap(_.keys).distinct.map(k => k -> Stats.median(maps.flatMap(_.get(k)))).toMap
}

/** Correctness bookkeeping: every operation is checked outside the timed
  * regions; an operation with any failed check counts as failed. */
final class Checks {
  private var attemptedOps = 0L
  private var failedOps = 0L
  private var pendingFailure = false
  private var reported = 0

  /** Records a comparison; a mismatch fails the current operation. */
  def expect[A](what: String, got: A, want: A): Unit =
    if (got != want) {
      pendingFailure = true
      if (reported < 20) {
        reported += 1
        System.err.println(s"CHECK FAILED: $what\n  got:  ${Checks.show(got)}\n  want: ${Checks.show(want)}")
      }
    }

  /** Closes the current operation. */
  def operation(): Unit = {
    attemptedOps += 1
    if (pendingFailure) failedOps += 1
    pendingFailure = false
  }

  /** Adds `n` record-level operations; each mismatch is a count of records
    * with a wrong outcome. */
  def operations(n: Long, mismatches: Seq[(String, Long)]): Unit = {
    mismatches.filter(_._2 != 0).foreach { case (what, k) =>
      System.err.println(s"CHECK FAILED: $what: $k records")
    }
    attemptedOps += n
    failedOps += math.min(n, mismatches.map(m => math.abs(m._2)).sum)
  }

  def attempted: Long = attemptedOps
  def failed: Long = failedOps
}

object Checks {
  private def show(a: Any): String = a match {
    case m: Map[_, _] => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.take(12).mkString("{", ", ", if (m.size > 12) ", …}" else "}")
    case other => String.valueOf(other)
  }
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def processCpuNanos(): Long = os.getProcessCpuTime

  def threadCpuNanos(id: Long): Long = if (id < 0) 0L else math.max(0L, threads.getThreadCpuTime(id))

  def wallMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
