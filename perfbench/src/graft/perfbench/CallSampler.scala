package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

/** Samples which public [[graft.ops.CurationPipeline]] call the driver
  * thread is in, and how many shards the pipeline's manifest has
  * committed, so a traced q221 run splits into init / one span per
  * shard / finalize without any hook inside the program. */
final class CallSampler(target: Thread, manifest: File, periodMs: Long)
    extends Thread("perfbench-call-sampler") {
  setDaemon(true)

  private val Calls = Set("init", "ingestShard", "finalizePipeline")
  private val samples = ArrayBuffer[(Long, String, Int)]()
  @volatile private var running = true

  private def committed: Int =
    Option(manifest.list()).fold(0)(_.count(n => !n.startsWith(".") && !n.startsWith("_")))

  override def run(): Unit = while (running) {
    val call = target.getStackTrace.collectFirst {
      case f if f.getClassName == "graft.ops.CurationPipeline$" &&
        Calls.contains(f.getMethodName) => f.getMethodName
    }.getOrElse("")
    val t = System.nanoTime()
    samples.synchronized { samples += ((t, call, committed)) }
    Thread.sleep(periodMs)
  }

  /** Stop sampling and return (name, startNs, endNs) per call: `init`,
    * `ingestShard:s<i>` (i = commits seen when the segment began) and
    * `finalizePipeline`. */
  def finish(): Seq[(String, Long, Long)] = {
    running = false
    join()
    val s = samples.synchronized(samples.toVector)
    val labelled = s.indices.map { k =>
      val (t, call, n) = s(k)
      val end = if (k + 1 < s.size) s(k + 1)._1 else t
      val label = call match {
        case "" => ""
        case "ingestShard" => s"ingestShard:s$n"
        case c => c
      }
      (label, t, end)
    }.filter(_._1.nonEmpty)
    labelled.groupBy(_._1).map { case (label, xs) =>
      (label, xs.map(_._2).min, xs.map(_._3).max)
    }.toSeq.sortBy(_._2)
  }
}
