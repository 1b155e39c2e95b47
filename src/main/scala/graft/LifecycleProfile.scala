package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev profiler for the multi-job lifecycle queries (guide §1: measure
  * first). Runs one declared query and prints every Spark JOB it
  * submitted — start offset, wall, and the driver call site (its
  * result stage's name) — plus the
  * gaps BETWEEN jobs (driver-side work: planning, filesystem walks,
  * parquet footer reads, commit renames). The slow index-lifecycle
  * gates are dozens of tiny jobs over kilobyte inputs, so the job/gap
  * table is exactly the breakdown the stage UI would give, without the
  * UI.
  *
  * `sbt "runMain graft.LifecycleProfile <query> [reps]"`
  */
object LifecycleProfile {
  private case class Job(id: Int, t0: Long, var t1: Long = 0L,
                         site: String = "")

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ann_index_maintain")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the job's call site is its result stage's name: Spark sets
        // `callSite.short` in the job properties only after an explicit
        // setCallSite, so the properties carry no site for ordinary jobs
        val site = js.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("?")
        jobs.put(js.jobId, Job(js.jobId, js.time, site = site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.t1 = je.time)
      }
    })
    val fn = SparkEntry.queries(name)
    // warmup rep: JIT + codegen + parquet footer caches
    try fn(spark, sfDir).queryExecution.toRdd.count()
    catch { case e: Throwable => System.err.println(s"warmup: $e") }
    spark.catalog.clearCache()
    (1 to reps).foreach { rep =>
      jobs.clear()
      val w0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - w0) / 1e9
      spark.catalog.clearCache()
      val js = jobs.values.asInstanceOf[java.util.Collection[Job]]
      import scala.jdk.CollectionConverters._
      val sorted = js.asScala.toSeq.sortBy(_.t0)
      val base = sorted.headOption.map(_.t0).getOrElse(0L)
      println(f"%n=== $name rep $rep wall=$wall%.2fs jobs=${sorted.size} ===")
      var prevEnd = base
      sorted.foreach { j =>
        val gap = (j.t0 - prevEnd) / 1e3
        val dur = (j.t1 - j.t0) / 1e3
        val off = (j.t0 - base) / 1e3
        if (gap > 0.02)
          println(f"  -- gap ${gap}%6.2fs (driver)")
        println(f"  job ${j.id}%3d @${off}%7.2fs ${dur}%6.2fs  ${j.site}")
        prevEnd = j.t1 max prevEnd
      }
      val jobSum = sorted.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"  jobs sum=${jobSum}%.2fs wall=$wall%.2fs driver-gap=${wall - jobSum}%.2fs")
    }
    spark.stop()
  }
}
