package graftbench

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM entry point. `run.py` builds this package and launches
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *                   <work dir> <record path> [query checks]
  *
  * It runs one workload closed-loop, checks the outputs it can check from
  * inside the JVM, and writes one JSON record of raw measurements to
  * <record path>; run.py turns the record into the benchmark's metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: Path, record: Path, extra: Seq[String])

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4).toInt, Paths.get(argv(5)).toAbsolutePath, Paths.get(argv(6)),
      argv.drop(7).toSeq)
    val nproc = Runtime.getRuntime.availableProcessors()
    require(a.cores >= 1 && a.cores <= nproc,
      s"refusing local[${a.cores}]: only $nproc processors are available")
    val rec = mutable.LinkedHashMap.empty[String, Any]
    val started = ProcessHandle.current().info().startInstant()
      .map[Double](_.toEpochMilli.toDouble).orElse(Clock.now())
    rec("process_start_ms") = started
    rec("main_start_ms") = Clock.now()
    val heap = new HeapAfterGc
    val body: Bench = a.workload match {
      case "ingest_fanout8" => new IngestBench
      case "query_mix" => new QueryBench
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    var spark: SparkSession = null
    try {
      spark = body.run(a, rec)
    } catch {
      case e: Throwable =>
        rec("error") = e.toString + "\n" + e.getStackTrace.take(20).mkString("\n")
    } finally {
      if (spark != null) spark.stop()
      rec("peak_rss_kb") = peakRssKb()
      rec("heap_committed_bytes") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
      rec("heap_after_gc_peak_bytes") = heap.peak()
      rec("gc_count") = heap.collections
      rec("xmx_bytes") = Runtime.getRuntime.maxMemory()
      Files.write(a.record, Json.render(rec).getBytes(UTF_8))
    }
    // A failed run may leave non-daemon threads behind; exit regardless.
    sys.exit(if (rec.contains("error")) 1 else 0)
  }

  /** VmHWM of this JVM, from /proc (0 where unavailable). */
  def peakRssKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0L
    else {
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    }
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Records the measured session's master and parallelism. */
  def describe(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = {
    rec("master") = spark.sparkContext.master
    rec("default_parallelism") = spark.sparkContext.defaultParallelism
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try {
      w.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.delete)
    } finally w.close()
  }
}

/** The largest heap occupancy left after any collection of this JVM: the
  * heap the run's work keeps live (plus old-generation garbage not yet
  * collected), as opposed to the fixed heap the JVM reserved. */
final class HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val names = heapPools.map(_.getName).toSet
  @volatile private var max = 0L
  @volatile var collections = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if names(pool) => u.getUsed }.sum
      synchronized { collections += 1; if (used > max) max = used }
    }

  /** Notifications arrive asynchronously; the pools' last after-collection
    * usage covers a collection whose notification is still pending. */
  def peak(): Long = synchronized {
    val last = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    math.max(max, last)
  }
}

/** One workload: sets up, measures, checks and fills the record. */
trait Bench {
  def run(a: Main.Args, rec: mutable.Map[String, Any]): SparkSession

  /** Listeners of the traced run, attached to the measured session. */
  protected final class Listeners(spark: SparkSession) {
    val jobs = new JobListener
    val batches = new BatchListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
    def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
  }

  /** Job and micro-batch records of the traced run as plain maps. */
  protected final def listenerRecords(l: Listeners): Map[String, Any] = {
    l.drain()
    Map(
      "jobs" -> l.jobs.all.map(j => Seq(j.id, j.start, j.end, j.stages, j.tasks,
        j.cpuNs / 1e6, j.gcMs, j.inputBytes, j.shuffleReadBytes,
        j.shuffleWriteBytes, j.outputBytes)),
      "batches" -> l.batches.all.map(b => Seq(b.start, b.triggerMs, b.addBatchMs)))
  }
}
