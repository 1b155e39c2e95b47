package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.operators._
import graft.sources.{IndexCommits, TinyParquet}

/** Differential test of the snapshot-planned store read
  * (`IndexCommits.scan`) against Spark's own planning of the same files
  * (`spark.read.parquet(files: _*)`, with `basePath` for the
  * partitioned kinds): for every kind of both stores the two frames
  * must have the same schema — names, types, nullability, the
  * partition column last as int — and the same rows. `scan` must get
  * there without a Spark job, over a selection past the parallel
  * listing threshold, over an empty selection, and from a snapshot
  * written before file lengths were recorded; a snapshot file that is
  * gone must fail the read.
  */
class IndexScanSpec extends SparkSpec {
  import spark.implicits._

  private def annVecs = (0 until 40).map { i =>
    val base = if (i % 2 == 0) 0.0f else 10.0f
    (i.toLong, Array.tabulate(64)(d => base + (i / 2) * 0.01f + d * 0.001f))
  }.toDF("vec_id", "embedding")

  /** Enough distinct terms to fill more than 32 of 64 term buckets. */
  private def bmCorpus = (0 until 60).map { i =>
    (i.toLong, (0 until 8).map(j => s"w${(i * 7 + j * 13) % 211}")
      .mkString(" "))
  }.toDF("doc_id", "text")

  private lazy val annRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft_scan_ann")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs.where(col("vec_id") < 30), "vec_id",
      "embedding", root, k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    SimilarityOps.indexAppend(vecs.where(col("vec_id") >= 30), "vec_id",
      "embedding", root)
    SimilarityOps.indexDelete(vecs.where(col("vec_id") % 5 === 0),
      "vec_id", root, vecCol = "embedding")
    root
  }

  private lazy val bmRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft_scan_bm")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 64)
    TextOps.invertedIndexDelete(bmCorpus.where(col("doc_id") % 7 === 0),
      "doc_id", root)
    root
  }

  private val partKeys = Map("vectors" -> "list_id",
    "postings" -> "bucket", "doclens" -> "docbucket")

  /** Spark's own planning of the same selection. */
  private def reference(root: String, kind: String,
                        files: Seq[String]): DataFrame =
    if (partKeys.contains(kind))
      spark.read.option("basePath", s"$root/$kind").parquet(files: _*)
    else spark.read.parquet(files: _*)

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "scan returned rows Spark's read did not")
    assert(b.exceptAll(a).isEmpty, "scan lost rows Spark's read returned")
  }

  /** Ids of the Spark jobs `body` started (a sentinel job marks the end,
    * so every earlier job event has reached the listener).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var sentinelSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p =>
            p.getProperty("spark.job.description") == "scan-sentinel"))
          sentinelSeen = true
        else if (!sentinelSeen) started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription("scan-sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sentinelSeen, "sentinel job never reached the listener")
      (out, started.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def checkKind(root: String, kind: String,
                        parts: Option[Set[Long]]): Unit = {
    val snap = IndexCommits.readEntries(spark, root)
    val files = parts.fold(IndexCommits.filesOf(snap, kind))(ps =>
      IndexCommits.filesOfParts(snap, kind, ps))
    assert(files.nonEmpty, s"$kind: empty fixture selection")
    val (got, jobs) =
      jobsDuring(IndexCommits.scan(spark, root, snap, kind, parts))
    assert(jobs === 0, s"$kind: scan planning ran $jobs Spark job(s)")
    val want = reference(root, kind, files)
    assert(got.schema === want.schema, s"$kind schema")
    partKeys.get(kind).foreach { k =>
      assert(got.schema.last.name === k && got.schema.last.dataType ===
        IntegerType, s"$kind: partition column not last as int")
    }
    sameRows(got, want)
  }

  test("ANN vectors / applog / deletes: scan equals Spark's read of the" +
      " same files (schema and rows), with no planning job") {
    val snap = IndexCommits.readEntries(spark, annRoot)
    for (kind <- Seq("vectors", "applog", "deletes"))
      assert(IndexCommits.filesOf(snap, kind).nonEmpty, s"no $kind fixture")
    checkKind(annRoot, "vectors", None)
    checkKind(annRoot, "vectors",
      Some(IndexCommits.partIdsOf(snap, "vectors").take(1)))
    checkKind(annRoot, "applog", None)
    checkKind(annRoot, "deletes", None)
  }

  test("BM25 postings / doclens / deletes: scan equals Spark's read of" +
      " the same files, including a selection past the 32-file parallel" +
      " listing threshold") {
    val snap = IndexCommits.readEntries(spark, bmRoot)
    assert(IndexCommits.filesOf(snap, "postings").size > 32,
      "fixture does not cross the parallel listing threshold")
    // Spark's own read of that many files runs jobs; scan runs none
    val (_, refJobs) = jobsDuring(reference(bmRoot, "postings",
      IndexCommits.filesOf(snap, "postings")))
    assert(refJobs > 0, "reference read ran no planning job")
    checkKind(bmRoot, "postings", None)
    checkKind(bmRoot, "postings", Some(Set(1L, 2L, 3L)))
    checkKind(bmRoot, "doclens", None)
    checkKind(bmRoot, "deletes", None)
  }

  test("an empty selection is an empty frame of the kind's schema") {
    for ((root, kind) <- Seq(annRoot -> "vectors", bmRoot -> "postings",
        bmRoot -> "doclens")) {
      val snap = IndexCommits.readEntries(spark, root)
      val (got, jobs) = jobsDuring(
        IndexCommits.scan(spark, root, snap, kind, Some(Set(-1L))))
      assert(jobs === 0)
      val want = reference(root, kind, IndexCommits.filesOf(snap, kind))
      assert(got.schema === want.schema, s"$kind empty-selection schema")
      assert(got.isEmpty)
    }
  }

  test("a snapshot file that is gone fails the read instead of" +
      " returning fewer rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_scan_miss")
      .toString + "/idx"
    TextOps.invertedIndexWrite(bmCorpus, "doc_id", "text", root,
      nBuckets = 8)
    val snap = IndexCommits.readEntries(spark, root)
    val victim = IndexCommits.filesOf(snap, "postings").head
    assert(new java.io.File(victim).delete())
    intercept[Exception] {
      IndexCommits.scan(spark, root, snap, "postings").collect()
    }
    // the same with an entry that has no recorded length (stat path)
    val unrecorded = snap.map(_.copy(len = -1L, mtime = -1L))
    intercept[java.io.FileNotFoundException] {
      IndexCommits.scan(spark, root, unrecorded, "postings").collect()
    }
  }

  test("a snapshot written before lengths were recorded still serves" +
      " identically (one stat per file), and the next commit records" +
      " them") {
    val root = java.nio.file.Files.createTempDirectory("graft_scan_old")
      .toString + "/idx"
    val vecs = annVecs
    SimilarityOps.indexWrite(vecs, "vec_id", "embedding", root,
      k = 2, iters = 2, m = 8, dsub = 8, ksub = 4)
    val queries = vecs.where(col("vec_id") < 4)
    val want = SimilarityOps.indexSearch(queries, root, "vec_id",
      "embedding", k = 3, nProbe = 2).collect().toSeq
    // commit the same files in the old three-column snapshot layout
    val snap = IndexCommits.readEntries(spark, root)
    val v = IndexCommits.currentVersion(spark, root).get + 1
    TinyParquet.write(spark.sparkContext.hadoopConfiguration,
      s"$root/commits/v=$v",
      Seq("kind" -> "string", "part_id" -> "long", "file" -> "string"),
      snap.map(e => Seq(e.kind, e.partId.map(Long.box).orNull, e.file)))
    val old = IndexCommits.readEntries(spark, root)
    assert(old.nonEmpty && old.forall(e => e.len < 0 && e.mtime < 0))
    assert(SimilarityOps.indexSearch(queries, root, "vec_id",
      "embedding", k = 3, nProbe = 2).collect().toSeq === want)
    SimilarityOps.indexDelete(vecs.where(col("vec_id") === 39),
      "vec_id", root, vecCol = "embedding")
    val next = IndexCommits.readEntries(spark, root)
    assert(next.forall(e =>
      e.len == new java.io.File(e.file).length() && e.mtime > 0))
  }
}
