package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    java.lang.Double.toString(d)
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(body: => Unit): Double = time(body)._2
}

/** The cache-leak guard. Before every timed pass Spark's cache is cleared
  * and only the workload's input is cached again, so a warm pass is never
  * served by an index an earlier call persisted and did not release.
  */
object Guard {
  @volatile private var inputRdds = Set.empty[Int]

  /** Persistent RDDs that are not the workload's input. */
  def leaked(sc: SparkContext): Long =
    sc.getPersistentRDDs.keySet.count(id => !inputRdds.contains(id)).toLong

  /** Clears every cache, re-caches `inputs` and materializes them. */
  def reset(spark: SparkSession, inputs: Seq[DataFrame]): Unit = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    inputs.foreach { df => df.persist(); df.count() }
    inputRdds = sc.getPersistentRDDs.keySet.toSet
    require(inputRdds.size == inputs.size,
      s"cache holds ${inputRdds.size} RDDs after re-caching ${inputs.size} inputs")
  }
}

/** JVM-wide GC time and heap peak over an interval. */
object Jvm {
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  final case class Sample(gcS: Double, heapPeakMb: Double)

  def measure[T](body: => T): (T, Sample) = {
    heapPools.foreach(_.resetPeakUsage())
    val g0 = gcMs
    val r = body
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    (r, Sample((gcMs - g0) / 1000.0, peak))
  }
}

/** A pass timed with tracing off or on, plus what the trace saw. */
final case class PassSample(wallS: Double, traced: Boolean, engine: EngineStats,
    jvm: Jvm.Sample, layers: Map[String, Double])

/** What a workload hands back from its output checks. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String]) {
  def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

/** Shared run state: the session, the tracer, the work directory. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val work: String, val tracer: Tracer) {
  def sc: SparkContext = spark.sparkContext
  def path(rel: String): String = s"$work/$rel"
  def call[T](name: String)(body: => T): T = tracer.call(name)(body)

  def deleteDir(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(sc.hadoopConfiguration).delete(hp, true)
  }
}

/** Share of CPU time the hypervisor gave to other guests while the
  * measured window ran (the steal column of /proc/stat; 0 where absent).
  * Printed with each run: a slow run on a stolen host shows as such. */
final class Steal {
  private def read(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val c = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (c.sum, if (c.length > 7) c(7) else 0L)
      } finally f.close()
    }.getOrElse((0L, 0L))
  private val (total0, steal0) = read()
  private var done: (Long, Long) = _
  def stop(): Unit = done = read()
  def share: Double = {
    val (t, s) = Option(done).getOrElse(read())
    if (t == total0) 0.0 else (s - steal0).toDouble / (t - total0)
  }
}
