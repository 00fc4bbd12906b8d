package perfbench

object Workloads {
  /** `store_mixed` runs `kv_mixed` and `sql_analytics` side by side in one
    * JVM: one set-up of both, one warm-up of both, and rounds of both. */
  val names = Seq("store_mixed", "kv_mixed", "sql_analytics", "curation_batch")
  def make(name: String, ctx: Ctx): Workload = name match {
    case "store_mixed" => new Both(new KvMixed(ctx), new SqlAnalytics(ctx))
    case "kv_mixed" => new KvMixed(ctx)
    case "sql_analytics" => new SqlAnalytics(ctx)
    case "curation_batch" => new CurationBatch(ctx)
  }

  private final class Both(a: Workload, b: Workload) extends Workload {
    def setup(root: String): Unit = { a.setup(s"$root/a"); b.setup(s"$root/b") }
    def warmup(): Unit = { a.warmup(); b.warmup() }
    def round(): Unit = { a.round(); b.round() }
    override def finish(): Unit = { a.finish(); b.finish() }
    override def endToEnd: Seq[(String, Double, String)] = a.endToEnd ++ b.endToEnd
  }
}
