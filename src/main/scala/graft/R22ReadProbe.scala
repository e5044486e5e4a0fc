package graft

/** r22: what exactly does a `spark.read.parquet(path)` construction
  * cost on the driver, and how much of it does a known schema remove?
  *
  * A `Tables.apply` construction was measured at ~55–70 ms — paid
  * inside the timed region by nearly every catalog
  * query, twice (min-of-two). Candidate fixes, cheapest first:
  *
  *  A. status quo: `spark.read.parquet(path)` (listing + footer
  *     schema inference per call);
  *  B. schema-provided: `spark.read.schema(s).parquet(path)` — skips
  *     inference, still lists;
  *  C. logical-plan reuse: return the SAME resolved DataFrame for
  *     repeated (session, path) calls — skips both (plan is immutable;
  *     each action still scans parquet, nothing is result-cached).
  *
  * Usage: runMain graft.R22ReadProbe <sfDir>
  */
object R22ReadProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.range(1000000).selectExpr("sum(id)").collect()
    def t[A](body: => A): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val tables = Seq("events", "lineitem", "documents", "embeddings", "orders")
    val schemas = tables.map(n => n -> spark.read.parquet(s"$dir/$n.parquet").schema).toMap
    val reused = tables.map(n => n -> spark.read.parquet(s"$dir/$n.parquet")).toMap
    for (rep <- 1 to 4; n <- tables) {
      val p = s"$dir/$n.parquet"
      val a = t(spark.read.parquet(p))
      val b = t(spark.read.schema(schemas(n)).parquet(p))
      val c = t(reused(n).selectExpr("*"))
      // and what an ACTION costs on each construction (count, pruned)
      val ac = t(spark.read.parquet(p).count())
      val bc = t(spark.read.schema(schemas(n)).parquet(p).count())
      val cc = t(reused(n).count())
      println(f"[read] rep$rep $n%-12s construct: infer=$a%6.3f schema=$b%6.3f reuse=$c%6.3f | count: infer=$ac%6.3f schema=$bc%6.3f reuse=$cc%6.3f")
    }
    spark.stop()
  }
}
