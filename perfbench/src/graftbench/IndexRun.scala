package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{SimilarityOps, TextOps}

/** The ANN (IVF-PQ) and BM25 index stores through one lifecycle pass:
  * build both; then `rounds` rounds of one fresh-id append to each store
  * (ANN appends alternate direct and buffered), each followed by the
  * search mix (ANN batch, BM25 frequent terms, BM25 rare terms, hybrid);
  * an ANN flush every `flush_every` rounds; after the last round a
  * delete on both stores, the search mix, and compaction of both.
  * Every search is checked row-identical across each flush and
  * compaction, one BM25 indexed search against `TextOps.bm25TopK` over
  * the live corpus, and both store censuses against the live corpus.
  */
final class IndexRun(ctx: Ctx, plan: Main.Plan) {
  private val spark = ctx.spark
  private val seed = plan("seed").toLong
  private val work = plan("work")
  private val AppendOff = 1000L * 1000000000L

  def run(): Unit = {
    val data = plan("data")
    val par = spark.sparkContext.defaultParallelism
    val generated = Gen.ensure(spark, data, plan("sf").toDouble, plan("data_seed").toLong)
    val emb = graft.Tables.embeddings(spark, data).select(col("vec_id"), col("embedding"))
      .repartition(par).localCheckpoint(true)
    val docs = graft.Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .repartition(par).localCheckpoint(true)
    // every derived input is drawn on the driver from the seeded generator
    // and handed to the stores as a local relation
    val embRows = emb.collect().sortBy(_.getLong(0)).toSeq
    val docRows = docs.collect().sortBy(_.getLong(0)).toSeq
    val nVec = embRows.size.toLong; val nDoc = docRows.size.toLong
    val rng = new scala.util.Random(seed)
    def local(rows: Seq[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(rows.asJava, like.schema)
    def draw(rows: Seq[Row], n: Int): Seq[Row] = rng.shuffle(rows).take(n)
    def fresh(rows: Seq[Row], r: Int): Seq[Row] =
      rows.map(x => Row(x.getLong(0) + AppendOff * r, x.get(1)))
    val k = plan.int("lists")
    val rounds = plan.int("rounds")
    val flushEvery = plan.int("flush_every")
    val nDelete = plan.int("delete_rows")
    val annDelta = plan.int("ann_delta"); val bmDelta = plan.int("bm_delta")
    val queryVecs = local(draw(embRows, plan.int("queries")), emb)
    val annDeltas = (1 to rounds).map(r => local(fresh(draw(embRows, annDelta), r), emb))
    val bmDeltas = (1 to rounds).map(r => local(fresh(draw(docRows, bmDelta), r), docs))
    val doomedVec = local(draw(embRows, nDelete), emb)
    val doomedDoc = local(draw(docRows, nDelete), docs).select("doc_id")
    val words = Seq("agg", "batch", "column", "data", "filter", "group", "hash",
      "join", "merge", "query", "scan", "sort", "spark", "stream", "window")
    val freqTerms = rng.shuffle(words).take(3)
    val rareTerms = Seq("dup", rng.shuffle(words).head)
    val hybridBatch = Seq(0L -> freqTerms, 1L -> rareTerms,
      2L -> rng.shuffle(words).take(2))
    ctx.out.rec("type" -> "mark", "name" -> "data", "t" -> ctx.clock.now,
      "generated" -> generated, "vectors" -> nVec, "docs" -> nDoc,
      "freq_terms" -> freqTerms, "rare_terms" -> rareTerms)
    val annRoot = s"$work/ann"; val bmRoot = s"$work/bm25"

    def searchesOn(annRoot: String, bmRoot: String): Seq[(String, () => DataFrame)] = Seq(
      "ann" -> (() => SimilarityOps.indexSearch(queryVecs, annRoot, "vec_id",
        "embedding", k = 10, nProbe = 4)),
      "bm25_frequent" -> (() => TextOps.bm25SearchIndexed(spark, bmRoot, freqTerms, k = 25)),
      "bm25_rare" -> (() => TextOps.bm25SearchIndexed(spark, bmRoot, rareTerms, k = 25)),
      "hybrid" -> (() => {
        val cos = SimilarityOps.indexSearch(queryVecs.limit(3), annRoot, "vec_id",
            "embedding", k = 50, nProbe = 4)
          .select(col("query_id"), col("neighbor_id").as("id"), col("rank").as("cos_rank"))
        val bm = TextOps.bm25SearchIndexedBatch(spark, bmRoot, hybridBatch, k = 50)
          .select(col("query_id"), col("doc_id").as("id"), col("bm_rank"))
        val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("id"))
        bm.join(cos, Seq("query_id", "id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("bm_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)))
          .withColumn("_rn", row_number().over(w))
          .where(col("_rn") <= 20)
      }))
    val searches = searchesOn(annRoot, bmRoot)

    // warm-up on a separate small store pair: JIT and codegen of every
    // lifecycle path, outside the timed pass
    warmup(emb, docs, s"$work/warm", k, searchesOn)

    var opId = 0
    val latest = scala.collection.mutable.Map.empty[String, Seq[String]]
    def timed(name: String, kind: String)(f: => Unit): Boolean = {
      val ok = ctx.op(opId, name, kind)(ph => ph("execute")(f))
      if (ctx.trace.isDefined)
        ctx.out.rec(Seq("type" -> "store", "op" -> opId) ++
          (Census.of(annRoot).map { case (a, v) => s"ann.$a" -> v } ++
            Census.of(bmRoot).map { case (a, v) => s"bm25.$a" -> v }).toSeq: _*)
      opId += 1
      ok
    }
    // a search returns its rows to the caller, so collecting them is part
    // of the timed op; putting them in canonical form is not
    def searchMix(): Unit = searches.foreach { case (name, q) =>
      var got: (Array[Row], Array[String]) = null
      val ok = timed(s"search_$name", "search") {
        val df = q(); got = (df.collect(), df.schema.fieldNames)
      }
      latest(name) = if (ok) Fingerprint.rows(got._1, got._2) else Seq("failed")
    }
    def rowsOrError(df: => DataFrame): Seq[String] =
      try Fingerprint.rows(df) catch { case e: Throwable => Seq(s"error: $e") }
    /** After a layout-only op, every search must serve the same rows. */
    def unchanged(after: String): Unit = searches.foreach { case (name, q) =>
      val now = rowsOrError(q())
      ctx.check(opId - 1, now == latest(name), s"$name unchanged across $after")
      latest(name) = now
    }

    ctx.startPass()
    timed("build_ann", "build") {
      SimilarityOps.indexWrite(emb, "vec_id", "embedding", annRoot,
        k = k, iters = 2, m = 8, dsub = 8, ksub = 16)
    }
    timed("build_bm25", "build") { TextOps.invertedIndexWrite(docs, "doc_id", "text", bmRoot) }
    for (r <- 1 to rounds) {
      val buffered = r % 2 == 0
      timed(if (buffered) "append_ann_buffered" else "append_ann", "append") {
        SimilarityOps.indexAppend(annDeltas(r - 1), "vec_id", "embedding", annRoot,
          buffered = buffered)
      }
      timed("append_bm25", "append") {
        TextOps.invertedIndexAppend(bmDeltas(r - 1), "doc_id", "text", bmRoot)
      }
      searchMix()
      if (r % flushEvery == 0) {
        timed("flush_ann", "flush") { SimilarityOps.indexFlush(spark, annRoot) }
        unchanged("flush")
      }
    }
    timed("delete_ann", "delete") {
      SimilarityOps.indexDelete(doomedVec, "vec_id", annRoot, vecCol = "embedding")
    }
    timed("delete_bm25", "delete") { TextOps.invertedIndexDelete(doomedDoc, "doc_id", bmRoot) }
    searchMix()
    timed("compact_ann", "compact") { SimilarityOps.indexCompact(spark, annRoot) }
    timed("compact_bm25", "compact") { TextOps.invertedIndexCompact(spark, bmRoot) }
    unchanged("compact")
    ctx.endPass()

    // end-of-pass checks against the live corpus
    val live = annDeltas.foldLeft(emb)(_ unionByName _)
      .join(doomedVec.select("vec_id"), Seq("vec_id"), "left_anti")
    val liveDocs = bmDeltas.foldLeft(docs)(_ unionByName _)
      .join(doomedDoc, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val expVec = nVec + rounds.toLong * annDelta - nDelete
    val expDoc = nDoc + rounds.toLong * bmDelta - nDelete
    ctx.check(opId - 1, !SimilarityOps.indexIsStale(live, "vec_id", annRoot) &&
      live.count() == expVec, s"ann census = $expVec live vectors")
    ctx.check(opId - 1, !TextOps.invertedIndexIsStale(liveDocs, "doc_id", bmRoot) &&
      liveDocs.count() == expDoc, s"bm25 census = $expDoc live docs")
    val idx = Fingerprint.rows(TextOps.bm25SearchIndexed(spark, bmRoot, freqTerms, k = 25)
      .select("doc_id", "bm25"))
    val full = Fingerprint.rows(TextOps.bm25TopK(liveDocs, "doc_id", "text", freqTerms, k = 25)
      .select("doc_id", "bm25"))
    ctx.check(opId - 1, idx == full && idx.size == 25, "bm25 indexed = bm25TopK over live corpus")
    val inputBytes = expVec * 64L * 4L +
      liveDocs.select(sum(octet_length(col("text")))).head().getLong(0)
    val store = Census.of(annRoot)("bytes") + Census.of(bmRoot)("bytes")
    ctx.out.rec("type" -> "mark", "name" -> "store", "t" -> ctx.clock.now,
      "store_bytes" -> store, "input_bytes" -> inputBytes)
  }

  /** Builds a small store pair and serves each search from it once, so
    * JIT and codegen of the build and search paths happen before timing.
    */
  private def warmup(emb: DataFrame, docs: DataFrame, root: String, k: Int,
                     searchesOn: (String, String) => Seq[(String, () => DataFrame)]): Unit = {
    // ids 0..15 must be present: the PQ codebooks are seeded from them
    val e = emb.where(col("vec_id") < 500)
    val d = docs.where(col("doc_id") < 500).select("doc_id", "text")
    val (a, b) = (s"$root/ann", s"$root/bm25")
    SimilarityOps.indexWrite(e, "vec_id", "embedding", a, k = k, iters = 1, m = 8,
      dsub = 8, ksub = 16)
    TextOps.invertedIndexWrite(d, "doc_id", "text", b)
    searchesOn(a, b).foreach { case (_, q) => q().queryExecution.toRdd.count() }
  }
}
