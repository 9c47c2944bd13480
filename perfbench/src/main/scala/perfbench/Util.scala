package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

/** Small helpers shared by every workload: wall clock, percentiles, the
  * host contention witness and JSON output. */
object Util {

  val json = new ObjectMapper()

  /** Wall clock in epoch microseconds. Comparable across processes on
    * one host, which the REST latency needs (the due time is stamped by
    * the generator process, the emit time by the engine JVM). */
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Linear-interpolation percentile, q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = q / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** JVM process CPU time in seconds. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Live heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def readProc(name: String): Option[String] =
    try Some(new String(Files.readAllBytes(Path.of(name)))) catch {
      case _: java.io.IOException => None
    }

  /** One reading of the host: 1-minute load average, the aggregate cpu
    * line of /proc/stat (jiffies) and this JVM's cpu seconds. */
  final case class HostSample(wallUs: Long, load1: Double,
                              cpu: Array[Long], jvmCpuS: Double, jitMs: Long)

  def hostSample(): HostSample = {
    val load = readProc("/proc/loadavg")
      .map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
    val cpu = readProc("/proc/stat").flatMap(_.linesIterator.find(
      _.startsWith("cpu "))).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])
    HostSample(nowUs(), load, cpu, processCpuS(),
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** Samples the host every `periodMs` on a daemon thread, so a slow run
    * can be told apart as a contended host from its own record. */
  final class HostWitness(periodMs: Long = 1000) {
    private val samples =
      new java.util.concurrent.ConcurrentLinkedQueue[HostSample]()
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        samples.add(hostSample())
        try Thread.sleep(periodMs) catch { case _: InterruptedException => }
      }
    }, "perfbench-host-witness")
    t.setDaemon(true)
    t.start()

    /** Stop sampling and summarise: mean and max load, the share of
      * host cpu time stolen by the hypervisor, cpu used by other
      * processes (host busy minus this JVM minus `ownOtherCpuS`, e.g.
      * the REST generator) and by this JVM's JIT compiler, in cores. */
    def finish(ownOtherCpuS: Double = 0.0): ObjectNode = {
      running = false
      t.interrupt(); t.join()
      samples.add(hostSample())
      val all = samples.toArray(Array.empty[HostSample]).toSeq
      val o = json.createObjectNode()
      o.put("samples", all.length)
      o.put("loadavg_mean", all.map(_.load1).sum / all.length)
      o.put("loadavg_max", all.map(_.load1).max)
      val (a, b) = (all.head, all.last)
      if (a.cpu.length >= 8 && b.cpu.length >= 8) {
        val d = b.cpu.zip(a.cpu).map { case (x, y) => x - y }
        // user nice system idle iowait irq softirq steal [guest ...]
        val total = d.take(8).sum.toDouble max 1.0
        val idle = (d(3) + d(4)).toDouble
        val hz = 100.0
        val wallS = (b.wallUs - a.wallUs) / 1e6 max 1e-3
        val busyS = (total - idle) / hz
        val ownS = b.jvmCpuS - a.jvmCpuS + ownOtherCpuS
        o.put("steal_pct", 100.0 * d(7) / total)
        // per sample period, to tell a steal burst from steady contention
        val sb = o.putArray("steal_pct_by_period")
        all.sliding(2).foreach {
          case Seq(p, q) if p.cpu.length >= 8 && q.cpu.length >= 8 =>
            val dd = q.cpu.zip(p.cpu).map { case (x, y) => x - y }
            sb.add((100.0 * dd(7) / (dd.take(8).sum.toDouble max 1.0)).round)
          case _ =>
        }
        o.put("host_busy_cores", busyS / wallS)
        o.put("own_cores", ownS / wallS)
        o.put("other_cores", ((busyS - ownS) max 0.0) / wallS)
        // JIT compiler threads busy in this JVM: warm-up still going on
        o.put("jit_cores", (b.jitMs - a.jitMs) / 1000.0 / wallS)
      }
      o
    }
  }

  /** Order-independent digest of a DataFrame: row count and the wrapping
    * sum of xxhash64 over every row, with doubles rounded to 6 places so
    * summation order inside a window cannot flip a last bit. */
  def digest(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val r = df.select(cols: _*)
      .select(xxhash64(df.columns.toIndexedSeq.map(c => col(c)): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger.longValue()}"
  }
}
