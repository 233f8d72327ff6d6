package perfbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

/** The host's core speed, measured with a fixed task that calls neither
  * graft nor Spark: sort a copy of a seeded 1 MiB array of longs and
  * hash a 1 MiB buffer, on the client thread, allocating nothing (so it
  * never triggers a GC that collects graft's garbage). The harness runs
  * it between operations, while graft is idle. On a host shared with
  * other machines' load the same code runs 20-40 % slower from one
  * minute to the next; this task slows with it, and metrics.py scales
  * every end-to-end time by `NominalMs / median(samples)`.
  */
object Reference {
  /** The task's median time on an unloaded 4-vCPU host; the scaled
    * times read as if the run had had that speed throughout.
    */
  val NominalMs = 12.0
  private val src = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(1 << 17)(r.nextLong())
  }
  private val work = new Array[Long](src.length)
  private val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
  private val sha = MessageDigest.getInstance("SHA-256")
  private val digest = new Array[Byte](32)
  val samples = ArrayBuffer.empty[Double]

  private def once(): Double = {
    val t0 = System.nanoTime()
    System.arraycopy(src, 0, work, 0, src.length)
    java.util.Arrays.sort(work)
    sha.update(buf)
    sha.digest(digest, 0, digest.length)
    Main.ms(t0)
  }

  /** Compile the task before the first sample counts. */
  def warm(): Unit = (1 to 40).foreach(_ => once())

  /** Three timed runs of the task, kept. */
  def sample(): Unit = (1 to 3).foreach(_ => samples += once())
}
