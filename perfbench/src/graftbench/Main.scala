package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => NioPath, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, run the planned ops in a
  * closed loop on this thread, check each op's output outside its timed
  * region, write the records file. Usage: `graftbench.Main <plan-file>`;
  * the plan is written by `run.py`.
  */
object Main {
  /** `key value` lines; a key may repeat (e.g. one `op` line per op). */
  final class Plan(lines: Seq[(String, String)]) {
    def all(k: String): Seq[String] = lines.collect { case (`k`, v) => v }
    def apply(k: String): String = all(k).headOption.getOrElse(
      throw new IllegalArgumentException(s"plan has no '$k'"))
    def int(k: String): Int = apply(k).toInt
  }

  object Plan {
    def read(path: String): Plan = new Plan(
      Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        if (i < 0) (l, "") else (l.take(i), l.drop(i + 1))
      })
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val clock = new Clock
    val out = new Out(plan("out"))
    val traced = plan("trace") == "1"
    val cores = plan("cores")
    val work = plan("work")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem],
        s"counting filesystem not in use: ${fs.getClass.getName}")
    }
    val trace = if (traced) Some(new Trace(spark, clock, out)) else None
    trace.foreach(_.install())
    out.rec("type" -> "mark", "name" -> "session", "t" -> clock.now,
      "pid" -> ProcessHandle.current().pid(),
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "epoch_ms" -> System.currentTimeMillis(),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val ctx = new Ctx(spark, clock, out, trace)
    try {
      plan("kind") match {
        case "catalog" => new CatalogRun(ctx, plan).run()
        case "index" => new IndexRun(ctx, plan).run()
        case k => throw new IllegalArgumentException(s"unknown kind $k")
      }
      trace.foreach(_.drain())
      out.rec("type" -> "mark", "name" -> "end", "t" -> clock.now)
    } finally {
      out.close()
      spark.stop()
    }
  }
}

/** Shared by the workloads: the op loop, phase spans, heap peak and the
  * per-op filesystem counters of the traced run.
  */
final class Ctx(val spark: SparkSession, val clock: Clock, val out: Out,
                val trace: Option[Trace]) {
  private var spanSeq = 0L
  private val heap = new HeapPeak

  def span(name: String, parent: Long, op: Int, start: Double, end: Double): Unit = {
    spanSeq += 1
    if (trace.isDefined)
      out.rec("type" -> "span", "id" -> spanSeq, "parent" -> parent, "name" -> name,
        "op" -> op, "start" -> start, "end" -> end)
  }

  /** Marks the first timed op and starts heap tracking. */
  def startPass(): Unit = {
    System.gc()
    heap.reset()
    out.rec("type" -> "mark", "name" -> "first_op", "t" -> clock.now)
  }

  def endPass(): Unit = {
    val (peakLive, gcs) = heap.read()
    out.rec("type" -> "mark", "name" -> "pass_end", "t" -> clock.now,
      "heap_peak_mb" -> peakLive / 1048576.0, "gcs" -> gcs)
  }

  final class Phases(op: Int, opSpan: Long) {
    val times = ArrayBuffer.empty[(String, Double)]
    def apply[A](name: String)(f: => A): A = {
      val s = clock.now
      try f finally {
        val e = clock.now
        times += ((name, e - s))
        span(name, opSpan, op, s, e)
      }
    }
  }

  /** Runs one timed op; the body's exception fails the op, not the run. */
  def op(id: Int, name: String, kind: String)(body: Phases => Unit): Boolean = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Clock.OpKey, id.toString)
    val fs0 = if (trace.isDefined) CountingFileSystem.snapshot() else Map.empty[String, Long]
    spanSeq += 1
    val opSpan = spanSeq
    val ph = new Phases(id, opSpan)
    val t0 = clock.now
    val err = try { body(ph); null } catch {
      case e: Throwable =>
        val m = s"${e.getClass.getName}: ${e.getMessage}"
        m.take(300)
    }
    val t1 = clock.now
    sc.setLocalProperty(Clock.OpKey, null)
    if (trace.isDefined) {
      out.rec("type" -> "span", "id" -> opSpan, "parent" -> 0L, "name" -> "op",
        "op" -> id, "start" -> t0, "end" -> t1)
      val fs1 = CountingFileSystem.snapshot()
      out.rec(Seq("type" -> "fs", "op" -> id) ++
        fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }: _*)
    }
    out.rec("type" -> "op", "op" -> id, "name" -> name, "kind" -> kind,
      "start" -> t0, "end" -> t1, "ok" -> (err == null), "err" -> err,
      "phases" -> ph.times.toMap)
    err == null
  }

  def check(id: Int, ok: Boolean, detail: Any): Unit =
    out.rec("type" -> "check", "op" -> id, "ok" -> ok, "detail" -> detail)
}

/** Peak heap in use during the timed pass, read from GC notifications as
  * the largest heap left in use after a collection (the heap just before
  * a collection is mostly garbage and tracks the young-generation size).
  */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.NotificationEmitter
  import javax.management.openmbean.CompositeData

  private var live = 0L
  private var gcs = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener((n, _) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          synchronized { live = math.max(live, after); gcs += 1 }
        }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { live = 0L; gcs = 0L }

  /** (peak heap after a collection, collections); the heap in use now
    * when no collection happened. */
  def read(): (Long, Long) = synchronized {
    (if (gcs > 0) live else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, gcs)
  }
}

object Census {
  /** Files, bytes, append-log segments, partitions and committed
    * versions of a store directory, read with java.nio so the traced
    * run's filesystem counters see only the program's own calls.
    */
  def of(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map("files" -> 0L, "bytes" -> 0L,
      "applog_segments" -> 0L, "partitions" -> 0L, "versions" -> 0L)
    val all = Files.walk(p).iterator().asScala.toSeq
    val files = all.filter(Files.isRegularFile(_))
    def rel(x: NioPath) = p.relativize(x).toString
    val dataFiles = files.filter(x => x.getFileName.toString.endsWith(".parquet"))
    Map(
      "files" -> files.size.toLong,
      "bytes" -> files.map(Files.size).sum,
      "applog_segments" -> dataFiles.count(x => rel(x).startsWith("applog")).toLong,
      "partitions" -> all.count(x => Files.isDirectory(x) &&
        x.getFileName.toString.matches("(list_id|bucket|docbucket)=.*")).toLong,
      "versions" -> all.count(x => Files.isDirectory(x) &&
        x.getParent == p.resolve("commits") && x.getFileName.toString.startsWith("v=")).toLong)
  }
}
