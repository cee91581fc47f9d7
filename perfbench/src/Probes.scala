package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Process, file-system and host readings taken around timed calls. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))

  /** Old-generation occupancy after a full collection, in MB. The second
    * collection takes what the first one's reference processing freed
    * (Spark's context cleaner drops state whose handles the first one
    * found unreachable). */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)
  }

  private def fsStat(key: String): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)

  /** Bytes written through the local Hadoop file system so far. */
  def fsBytesWritten: Long = fsStat("bytesWritten")

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Parquet data files directly under `dir`. */
  def dataFiles(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** (steal jiffies, total jiffies) of the aggregate cpu line of
    * /proc/stat: steal is field 8, and the total sums fields 1-8 only
    * (guest time is already inside user/nice). None off Linux. */
  def cpuSteal(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { line =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for { (s0, t0) <- a; (s1, t1) <- b if t1 > t0 } yield 100.0 * (s1 - s0) / (t1 - t0))
      .getOrElse(-1.0)

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
