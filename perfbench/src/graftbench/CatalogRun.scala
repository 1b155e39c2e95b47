package graftbench

/** Contract queries by name from `graft.SparkEntry.queries`: phase
  * `build` is the query function itself (eager operator work happens
  * there), `plan` forces Catalyst's physical plan, `execute`
  * materializes every row with `toRdd.count()`. The fingerprint is taken
  * after the op, from the same physical plan, outside the timed region.
  */
final class CatalogRun(ctx: Ctx, plan: Main.Plan) {
  private val spark = ctx.spark
  private val queries = graft.SparkEntry.queries

  private def prepare(): String = {
    val data = plan("data")
    val generated = Gen.ensure(spark, data, plan("sf").toDouble, plan("data_seed").toLong)
    ctx.out.rec("type" -> "mark", "name" -> "data", "t" -> ctx.clock.now, "generated" -> generated)
    plan.all("warmup").foreach { name =>
      try queries(name)(spark, data).queryExecution.toRdd.count()
      finally spark.catalog.clearCache()
    }
    data
  }

  /** The registry module each contract query is declared in. */
  private def modules(): Unit = {
    val subs = Seq("QueriesLlm" -> graft.QueriesLlm.all,
      "QueriesImaging" -> graft.QueriesImaging.all, "QueriesKernels" -> graft.QueriesKernels.all,
      "QueriesCuration" -> graft.QueriesCuration.all,
      "QueriesAnalytics" -> graft.QueriesAnalytics.all,
      "QueriesDiagnostics" -> graft.QueriesDiagnostics.all)
    val of = queries.keys.map(n =>
      n -> subs.collectFirst { case (m, qs) if qs.contains(n) => m }.getOrElse("Queries")).toMap
    ctx.out.rec("type" -> "modules", "modules" -> of)
  }

  def run(): Unit = {
    val data = prepare()
    modules()
    val names = plan.all("op")
    names.foreach(n => require(queries.contains(n), s"unknown query $n"))
    ctx.startPass()
    names.zipWithIndex.foreach { case (name, i) =>
      var df: org.apache.spark.sql.DataFrame = null
      val ok = ctx.op(i, name, "query") { ph =>
        df = ph("build")(queries(name)(spark, data))
        ph("plan")(df.queryExecution.executedPlan)
        ctx.trace.foreach(_.phases("qe_main", df.queryExecution))
        ph("execute")(df.queryExecution.toRdd.count())
      }
      if (ok) {
        val fp = try Right(Fingerprint.of(df)) catch { case e: Throwable => Left(e.toString) }
        ctx.out.rec("type" -> "fingerprint", "op" -> i, "name" -> name,
          "rows" -> fp.toOption.map(_._1), "hash" -> fp.toOption.map(_._2),
          "err" -> fp.left.toOption)
      }
      spark.catalog.clearCache()
    }
    ctx.endPass()
  }
}
