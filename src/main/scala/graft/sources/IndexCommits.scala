package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Versioned commit protocol for the persisted retrieval indexes —
  * the same snapshot-pointer discipline the lakehouse ops already
  * prove out for tables (IoOps.commitManifest / time_travel), applied
  * to the ANN (SimilarityOps.indexWrite) and BM25
  * (TextOps.invertedIndexWrite) stores so index MAINTENANCE is
  * crash-safe:
  *
  *   root/commits/v=N/   one parquet snapshot per committed version:
  *     rows (kind, part_id, file, len, mtime) naming EVERY live data
  *     file of the served kinds ("vectors"/"applog"/"deletes" for ANN;
  *     "postings"/"doclens"/"deletes" for BM25) with the length and
  *     modification time its writer's listing saw. The CURRENT
  *     snapshot is the max committed N; readers plan from it and never
  *     trust directory listings.
  *
  * Reads ([[scan]]) are planned from the snapshot alone: the file
  * statuses, the partition values and the schema (one footer, read on
  * the driver) all come from the entries, so a store read runs no
  * listing job, no schema-inference job and no per-file filesystem
  * call — what a store read costs is decided here, not at each of the
  * read sites in SimilarityOps / TextOps.
  *
  * Mutation protocol (append / flush / compact / delete):
  *   1. write NEW files only — nothing referenced by the current
  *      snapshot is ever deleted or overwritten in place;
  *   2. commit the next snapshot with ONE atomic directory rename
  *      (write to commits/.tmp-N, rename to commits/v=N — the pointer
  *      swap). Every reader sees entirely-before or entirely-after;
  *   3. [[vacuum]] unreferenced files (GC). A crash at ANY point
  *      leaves the current snapshot serving row-identical results:
  *      before the rename the new files are invisible orphans, after
  *      it the old files are unreferenced orphans — either way the
  *      next vacuum (run at the head of every maintenance op) heals
  *      the debris.
  *
  * Compared at 100 TB to the pre-round-18 bare-filesystem swaps
  * (delete-dir-then-rename in compact, append-then-delete-log in
  * flush), this closes the lost-partition / duplicated-log crash
  * windows, and REPLACES per-partition existence probes at serve time
  * with one bounded snapshot read (#files rows — the same
  * manifest-sized planning collect every lakehouse reader does).
  *
  * Single-writer by design (one maintenance job per index store, the
  * standard lakehouse assumption); readers are never blocked. The
  * census/quantizer sidecars (meta, bloomidx, centroids, codebooks)
  * stay plain directories: they are advisory/bounded, and a crash
  * mid-rewrite leaves at most a superseded generation beside the new
  * one, which TinyParquet.read ignores.
  */
object IndexCommits {
  /** One live data file of a snapshot. partId = the value of the
    * store's partition key for files under a `key=value` directory
    * (list_id for ANN vectors, bucket for BM25 postings, docbucket
    * for doclens), None for unpartitioned kinds (applog segments,
    * delete sidecars). `len` and `mtime` are the file's length and
    * modification time as recorded at commit; -1 for an entry read
    * from a snapshot written before they were recorded (its reads stat
    * the file once, and the next commit records them).
    */
  final case class Entry(kind: String, partId: Option[Long], file: String,
                         len: Long = -1L, mtime: Long = -1L)

  /** The entry for a listed data file, length and mtime included. */
  def entryOf(kind: String, partId: Option[Long], st: FileStatus): Entry =
    Entry(kind, partId, st.getPath.toUri.getPath, st.getLen,
      st.getModificationTime)

  private def hfs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionDir = "v=(\\d+)".r

  /** Committed snapshot versions under root/commits, ascending. */
  private def versions(fs: FileSystem, root: String): Seq[Long] = {
    val dir = new Path(s"$root/commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(n) => Some(n.toLong)
          case _             => None
        }
    }.flatten.sorted
  }

  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(hfs(spark, root), root).lastOption

  /** Is this store commit-versioned? Legacy stores (no commits dir)
    * keep their original directory-planned behavior end to end.
    */
  def enabled(spark: SparkSession, root: String): Boolean =
    currentVersion(spark, root).isDefined

  /** The current snapshot's entries — a #files-bounded driver list,
    * the planning collect of every read AND the base every mutation
    * derives its next snapshot from. Empty when no commit exists.
    */
  def readEntries(spark: SparkSession, root: String): Seq[Entry] =
    currentVersion(spark, root) match {
      case None => Seq.empty
      case Some(v) =>
        // snapshot files are kilobyte-bounded (#files rows): read them
        // on the driver — no Spark job for the planning collect every
        // read and mutation pays (round-18 opt: the lifecycle gates
        // spent most of their wall on exactly these tiny jobs)
        TinyParquet.read(spark.sparkContext.hadoopConfiguration,
            s"$root/commits/v=$v")
          .map { r =>
            def opt(c: String) =
              if (r.has(c) && !r.isNullAt(c)) r.getLong(c) else -1L
            Entry(r.getString("kind"),
              if (r.isNullAt("part_id")) None else Some(r.getLong("part_id")),
              r.getString("file"), opt("len"), opt("mtime"))
          }
    }

  /** Commit the next snapshot: ONE atomic rename makes it current.
    * Returns the committed version. The staging dir name is unique per
    * ATTEMPT (not per version): two racing writers who both compute
    * the same next version stage independently and exactly one rename
    * wins — the loser's require fires without ever having touched the
    * winner's files, and its orphaned staging dir is swept by the next
    * vacuum. (Single-writer remains the design assumption; this makes
    * a violation fail loudly instead of silently interleaving.)
    */
  def commit(spark: SparkSession, root: String,
             entries: Seq[Entry]): Long = {
    val fs = hfs(spark, root)
    val next = versions(fs, root).lastOption.getOrElse(0L) + 1
    val tmp = s"$root/commits/.tmp-$next-${java.util.UUID.randomUUID()}"
    // the snapshot is a driver-side Seq already — write it on the
    // driver (same parquet layout, no Spark job / output committer).
    // Entries carried over from a snapshot that predates recorded
    // lengths are stat'ed here, once, so later reads need no stat.
    TinyParquet.write(spark.sparkContext.hadoopConfiguration, tmp,
      Seq("kind" -> "string", "part_id" -> "long", "file" -> "string",
        "len" -> "long", "mtime" -> "long"),
      entries.map { e =>
        val st = statusOf(fs, e)
        Seq(e.kind, e.partId.map(Long.box).orNull, e.file, st.getLen,
          st.getModificationTime)
      })
    val ok = fs.rename(new Path(tmp), new Path(s"$root/commits/v=$next"))
    require(ok, s"commit v=$next failed: concurrent writer on $root?")
    next
  }

  def filesOf(entries: Seq[Entry], kind: String): Seq[String] =
    entries.filter(_.kind == kind).map(_.file)

  /** Files of `kind` whose partId is in `parts` — the snapshot-planned
    * equivalent of partition pruning (probed IVF lists, term buckets,
    * suspect doc buckets).
    */
  def filesOfParts(entries: Seq[Entry], kind: String,
                   parts: Set[Long]): Seq[String] =
    entries.filter(e => e.kind == kind &&
      e.partId.exists(parts.contains)).map(_.file)

  def partIdsOf(entries: Seq[Entry], kind: String): Set[Long] =
    entries.filter(_.kind == kind).flatMap(_.partId).toSet

  /** The qualified status of an entry's file: built from the recorded
    * length and mtime, or one `getFileStatus` for an entry that has
    * none (a snapshot written before they were recorded).
    */
  private def statusOf(fs: FileSystem, e: Entry): FileStatus =
    if (e.len >= 0)
      new FileStatus(e.len, false, 0, 0L, e.mtime,
        fs.makeQualified(new Path(e.file)))
    else fs.getFileStatus(new Path(e.file))

  /** Leaf-file cache pre-filled with the snapshot's statuses: every
    * root path of the index is one of these files, so the index never
    * lists. Snapshot files are immutable, so there is nothing to
    * invalidate.
    */
  private final class SnapshotStatusCache(files: Seq[FileStatus])
      extends FileStatusCache {
    private val byPath = files.map(st => st.getPath -> Array(st)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      byPath.get(path)
    override def putLeafFiles(path: Path, f: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Spark's file sources serve the data schema nullable whatever the
    * footer says; [[scan]] does the same.
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), true)
    case other => other
  }

  /** A file's Spark schema from its footer, read on the driver — the
    * same footer and conversion Spark's schema-inference job uses,
    * without the job.
    */
  private def footerSchema(spark: SparkSession, conf: Configuration,
                           st: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
      new ParquetToSparkSchemaConverter(sqlConf))
  }

  /** The files of `kind` (only those whose partId is in `parts`, when
    * given) as a DataFrame planned from the snapshot alone — the one
    * way every versioned store read is planned:
    *
    *   - file statuses come from the entries (recorded length and
    *     mtime) through a pre-filled FileStatusCache: no listing job,
    *     no per-file stat;
    *   - the partition spec comes from each entry's partId, the column
    *     named by its `key=value` directory and typed int (long past
    *     the int range — what partition inference gives), appended
    *     last;
    *   - the data schema is the first file's footer, made nullable —
    *     the single footer Spark's inference job would read, read on
    *     the driver with no job.
    *
    * An empty selection is an empty frame of the kind's schema (taken
    * from any of the kind's files); the kind's directory is never
    * listed. A snapshot file that is missing fails the read.
    */
  def scan(spark: SparkSession, root: String, entries: Seq[Entry],
           kind: String, parts: Option[Set[Long]] = None): DataFrame = {
    val all = entries.filter(_.kind == kind)
    require(all.nonEmpty,
      s"IndexCommits.scan: the snapshot of $root has no $kind files")
    val sel = parts.fold(all)(ps => all.filter(_.partId.exists(ps.contains)))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hfs(spark, root)
    val statuses = sel.map(statusOf(fs, _))
    val fileSchema = footerSchema(spark, conf,
      statuses.headOption.getOrElse(statusOf(fs, all.head)))
    val partKey = all.head.partId.map { _ =>
      val dir = new Path(all.head.file).getParent.getName
      require(dir.contains("="),
        s"IndexCommits.scan: ${all.head.file} is not under a key=value dir")
      dir.takeWhile(_ != '=')
    }
    val intParts = sel.forall(_.partId.forall(p => p.isValidInt))
    val partSchema = StructType(partKey.toSeq.map(k =>
      StructField(k, if (intParts) IntegerType else LongType)))
    val dataSchema = asNullable(StructType(
      fileSchema.filterNot(f => partKey.contains(f.name))))
      .asInstanceOf[StructType]
    if (sel.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(dataSchema ++ partSchema))
    val spec =
      if (partKey.isEmpty) PartitionSpec.emptySpec
      else PartitionSpec(partSchema,
        sel.zip(statuses).groupBy(_._2.getPath.getParent).toSeq.map {
          case (dir, es) =>
            val v = es.head._1.partId.get
            PartitionPath(InternalRow(if (intParts) v.toInt else v), dir)
        })
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath),
      Map.empty, None, new SnapshotStatusCache(statuses), Some(spec), None)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Recursively list the DATA files (part-*) under root/<sub>,
    * parsing partId from a `partKey=value` path segment when given.
    * Used to discover what a write just produced (diffed against a
    * before-listing) and to snapshot a fresh build.
    */
  def listDataFiles(spark: SparkSession, root: String, kind: String,
                    sub: String, partKey: Option[String]): Seq[Entry] = {
    val fs = hfs(spark, root)
    val dir = new Path(s"$root/$sub")
    if (!fs.exists(dir)) return Seq.empty
    def walk(p: Path, part: Option[Long]): Seq[Entry] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val nextPart = partKey match {
            case Some(k) if name.startsWith(s"$k=") =>
              scala.util.Try(name.stripPrefix(s"$k=").toLong)
                .toOption.orElse(part)
            case _ => part
          }
          walk(st.getPath, nextPart)
        } else if (name.startsWith("part-"))
          Seq(entryOf(kind, part, st))
        else Seq.empty
      }
    walk(dir, None)
  }

  /** Garbage-collect every data file under the managed subdirectories
    * that the CURRENT snapshot does not reference, then drop emptied
    * directories and superseded snapshot versions. Run at the head of
    * every maintenance op (heals crash debris) and after every commit
    * (retires the files the new snapshot replaced). Never touches a
    * referenced file, the current snapshot, or the unmanaged sidecars.
    *
    * `retainMs` is the concurrent-reader grace window (the lakehouse
    * VACUUM retention discipline): an unreferenced file younger than
    * the window is KEPT — a reader that planned its file list from the
    * previous snapshot may still be scanning it. Unreferenced files
    * are invisible to every NEW read by construction (reads plan from
    * the snapshot, never directory listings), so retained debris costs
    * only disk until it ages out of the window. 0 (the default)
    * reclaims immediately — correct for a single-process lifecycle,
    * where no reader can outlive the mutation that supersedes it.
    * Maintenance ops read the window from the session conf
    * (`graft.index.vacuum.retainMs`, see [[vacuumConf]]).
    */
  def vacuum(spark: SparkSession, root: String,
             subs: Seq[String], retainMs: Long = 0L): Long = {
    val fs = hfs(spark, root)
    val vs = versions(fs, root)
    if (vs.isEmpty) return 0L
    val live = readEntries(spark, root).map(_.file).toSet
    val cutoff =
      if (retainMs <= 0) Long.MaxValue
      else System.currentTimeMillis() - retainMs
    var deleted = 0L
    // Returns "directory is now effectively empty" (nothing but job
    // markers / checksum leftovers remain — those go with the dir).
    // Unrecognized files are conservatively kept and keep their dir.
    def sweep(p: Path): Boolean = {
      var empty = true
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (sweep(st.getPath)) fs.delete(st.getPath, true)
          else empty = false
        } else if (name.startsWith("part-")) {
          if (!live.contains(st.getPath.toUri.getPath) &&
              st.getModificationTime < cutoff) {
            fs.delete(st.getPath, false); deleted += 1
          } else empty = false
        } else if (name != "_SUCCESS" && !name.startsWith("."))
          empty = false
      }
      empty
    }
    subs.foreach { sub =>
      val dir = new Path(s"$root/$sub")
      if (fs.exists(dir) && sweep(dir)) fs.delete(dir, true)
    }
    // retire superseded snapshots (the store is not time-traveled;
    // bounding commit history keeps the commits dir O(1)) — under the
    // same grace window, so a reader mid-way between reading the
    // current version and its entries is never stranded
    vs.dropRight(1).foreach { v =>
      val p = new Path(s"$root/commits/v=$v")
      if (fs.getFileStatus(p).getModificationTime < cutoff)
        fs.delete(p, true)
    }
    // and any half-written commit attempt (crash before its rename)
    val cdir = new Path(s"$root/commits")
    fs.listStatus(cdir).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, true)
    }
    deleted
  }

  /** [[vacuum]] with the grace window taken from the session conf
    * `graft.index.vacuum.retainMs` (default 0 — reclaim immediately).
    * Every index maintenance op vacuums through this, so a deployment
    * with long-running concurrent readers sets ONE conf and every
    * store honors the window.
    */
  def vacuumConf(spark: SparkSession, root: String,
                 subs: Seq[String]): Long =
    vacuum(spark, root, subs,
      spark.conf.getOption("graft.index.vacuum.retainMs")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L))
}
