package perfbench

/** Per-layer metrics of a traced run, from the spans the workloads opened
  * around their calls into each graft module and the Spark work credited
  * to them. A metric whose layer the workload never called reads 0. */
object Layers {
  def metrics(ctx: Ctx, wallNs: Long): Seq[(String, Double, String)] = {
    val spans = ctx.tracer.allSpans
    val indexed = ctx.tracer.allSpansIndexed
    val under = ctx.tracer.workWithChildren()
    def named(n: String) = indexed.filter(_._2.name == n)
    def meanMs(n: String): Double = {
      val s = named(n)
      if (s.isEmpty) 0.0 else s.map(_._2.durNs).sum / 1e6 / s.size
    }
    def work(names: String*): Work = {
      val w = new Work
      indexed.filter(s => names.contains(s._2.name))
        .foreach(s => under.get(s._1).foreach(w.add))
      w
    }
    def count(names: String*): Int = indexed.count(s => names.contains(s._2.name))
    def per(v: Double, n: Int): Double = if (n == 0) 0.0 else v / n
    def sampleMean(n: String): Double =
      ctx.samples.get(n).filter(_.nonEmpty).map(s => s.sum / s.size).getOrElse(0.0)
    def sampleSum(n: String): Double = ctx.samples.get(n).map(_.sum).getOrElse(0.0)

    val out = Seq.newBuilder[(String, Double, String)]
    def ms(n: String, v: Double) = out += ((n, v, "ms"))
    def cnt(n: String, v: Double) = out += ((n, v, "count"))
    def ratio(n: String, v: Double) = out += ((n, v, "ratio"))
    def bytes(n: String, v: Double) = out += ((n, v, "bytes"))

    // catalog
    ms("catalog.read_ms", meanMs("catalog.read"))
    ms("catalog.manifest_ms", meanMs("catalog.manifest"))
    cnt("catalog.data_dirs", sampleMean("catalog.data_dirs"))
    cnt("catalog.versions", sampleMean("catalog.versions"))
    cnt("catalog.files_listed", sampleMean("catalog.files_listed"))

    // read: one read op = one read.exec span
    val readOps = count("read.exec")
    val rw = work("read.build", "read.exec")
    ms("read.build_ms", meanMs("read.build"))
    ms("read.plan_ms", per(rw.planNs / 1e6, readOps))
    ms("read.exec_ms", meanMs("read.exec"))
    cnt("read.jobs_per_op", per(rw.jobs.toDouble, readOps))
    cnt("read.files_per_op", per(rw.filesRead.toDouble, readOps))
    bytes("read.bytes_per_op", per(rw.bytesRead.toDouble, readOps))
    ratio("read.rows_scanned_per_row_returned",
      if (sampleSum("read.rows_returned") == 0) 0.0
      else rw.recordsRead / sampleSum("read.rows_returned"))
    bytes("read.shuffle_bytes_per_op", per(rw.shuffleBytes.toDouble, readOps))
    ms("read.get_ms", meanMs("op.get"))
    ms("read.multiget_ms", meanMs("op.multiget"))
    ms("read.range_ms", meanMs("op.range"))
    ms("read.filter_ms", meanMs("op.filter"))

    // write
    val writeOps = count("write.put", "write.delete")
    val ww = work("write.put", "write.delete")
    ms("write.put_ms", meanMs("write.put"))
    ms("write.delete_ms", meanMs("write.delete"))
    cnt("write.jobs_per_op", per(ww.jobs.toDouble, writeOps))
    ratio("write.bytes_per_user_byte",
      if (sampleSum("write.user_bytes") == 0) 0.0
      else ww.bytesWritten / sampleSum("write.user_bytes"))
    ratio("write.space_per_live_byte", sampleMean("write.space_per_live_byte"))
    ms("write.compact_ms", meanMs("write.compact"))
    bytes("write.compact_bytes_rewritten",
      per(work("write.compact").bytesWritten.toDouble, count("write.compact")))

    // snapshot, streaming, jobs
    ms("snapshot.create_ms", meanMs("snapshot.create"))
    ms("snapshot.export_ms", meanMs("snapshot.export"))
    bytes("snapshot.export_bytes", sampleMean("snapshot.export_bytes"))
    ratio("snapshot.shared_dir_ratio", sampleMean("snapshot.shared_dir_ratio"))
    ms("snapshot.delete_ms", meanMs("snapshot.delete"))
    ms("streaming.replicate_ms", meanMs("streaming.replicate"))
    cnt("streaming.rows_shipped", sampleMean("streaming.rows_shipped"))
    cnt("streaming.lag_versions", sampleMean("streaming.lag_versions"))
    ms("jobs.row_count_ms", meanMs("jobs.row_count"))

    // sql: one query = one sql.exec span
    val queries = count("sql.exec")
    val pw = work("sql.plan")
    val sw = work("sql.plan", "sql.exec")
    ms("sql.plan_ms", meanMs("sql.plan"))
    cnt("sql.planning_jobs", per(pw.jobs.toDouble, queries))
    ms("sql.exec_ms", meanMs("sql.exec"))
    cnt("sql.jobs_per_query", per(sw.jobs.toDouble, queries))
    bytes("sql.bytes_per_query", per(sw.bytesRead.toDouble, queries))
    cnt("sql.files_per_query", per(sw.filesRead.toDouble, queries))
    ratio("sql.rows_scanned_per_row_returned",
      if (sampleSum("sql.rows_returned") == 0) 0.0
      else sw.recordsRead / sampleSum("sql.rows_returned"))
    bytes("sql.shuffle_bytes_per_query", per(sw.shuffleBytes.toDouble, queries))
    Seq("point", "range", "agg", "topn", "index", "join", "asof").foreach { k =>
      ms(s"sql.${k}_ms", meanMs(s"op.sql_$k"))
    }

    // pipeline: one pass = one op.pass span
    val passes = count("op.pass")
    CurationBatch.Stages.foreach(s => ms(s"pipeline.${s}_ms", meanMs(s"pipeline.$s")))
    val pass = work("op.pass")
    cnt("pipeline.stages_per_pass", per(pass.stages.toDouble, passes))
    bytes("pipeline.shuffle_bytes", per(pass.shuffleBytes.toDouble, passes))
    bytes("pipeline.spill_bytes", per(pass.spillBytes.toDouble, passes))
    bytes("pipeline.storage_bytes_left", sampleMean("pipeline.storage_bytes_left"))
    ratio("pipeline.docs_kept_ratio", sampleMean("pipeline.docs_kept_ratio"))

    // the Spark pool every layer shares: all top-level spans of the window
    val top = new Work
    indexed.filter(_._2.parent < 0).foreach(s => under.get(s._1).foreach(top.add))
    val ops = math.max(1, spans.count(_.name.startsWith("op.")))
    ratio("exec.task_busy_share", top.taskNs.toDouble / (wallNs.toDouble * ctx.cores))
    ms("exec.gc_ms", top.gcMs.toDouble / ops)
    cnt("exec.jobs", top.jobs.toDouble / ops)
    cnt("exec.stages", top.stages.toDouble / ops)
    out.result()
  }
}
