package graft.operators

/** Dev probe (not a correctness gate): timings + MSE numbers for the
  * OPQ alternation on the real embedding sample, plus one full
  * q142 contract run. `Test/runMain graft.operators.OpqProbe [sfDir]`. */
object OpqProbe {
  import graft.operators.Quantize._

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.builder("opq-probe").master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val sample = emb.select(col("embedding").cast("array<double>"))
      .limit(4096).collect().map(_.getSeq[Double](0).toArray)
    for (nc <- Seq(16, 64, 256)) {
      val t0 = System.nanoTime()
      val plain = pqTrainLocal(sample, 8, nc)
      val t1 = System.nanoTime()
      val opq = opqTrainLocal(sample, 8, nc)
      val t2 = System.nanoTime()
      val (mp, mo) = (pqMseLocal(plain, sample), pqMseLocal(opq, sample))
      val ident = opq.rot.get.zipWithIndex.forall { case (row, i) =>
        row.zipWithIndex.forall { case (x, j) => x == (if (i == j) 1.0 else 0.0) } }
      println(f"nc=$nc%3d plain=$mp%.5f opq=$mo%.5f win=${(mp - mo) / mp * 100}%.1f%% " +
        f"identityFallback=$ident train_pq=${(t1 - t0) / 1e9}%.1fs train_opq=${(t2 - t1) / 1e9}%.1fs")
    }
    val t3 = System.nanoTime()
    val row = graft.queries.PipelineQueries.q142CheckOpq(spark, dir).head()
    println(s"q142 row: $row  took ${(System.nanoTime() - t3) / 1e9}s")
    spark.stop()
  }
}
