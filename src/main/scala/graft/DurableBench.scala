package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable-checkpoint cost A/B: `runMain graft.DurableBench [sfDir] [reps]`
  * runs the four heaviest RoundSnapshots loop operators (d20, d21, s36,
  * s39 — the exact SparkEntry fixtures) under BOTH materialization modes
  * (`checkpointDir = None` → localCheckpoint; `Some(dir)` → parquet
  * rounds that survive executor loss) and prints per-run wall times plus
  * the files/bytes the durable run leaves under its directory after the
  * result is consumed (the superseded-round cleanup contract —
  * `DurableCheckpointSpec` pins the bounds; this main prices the trade
  * for BENCH_AB). Modes alternate per rep so cache warmth cannot favor
  * either side.
  */
object DurableBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(name: String) = spark.read.parquet(s"$sfDir/$name.parquet")
    // JVM/codegen warmup, as in Bench/Profile
    t("region").groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()

    import graft.operators.{Dedup, Graph, Similarity}
    def substrCorpus(half: Boolean): DataFrame = {
      val docs0 = t("documents").select("doc_id", "text")
      val docs = if (half) docs0.filter(col("doc_id") % 2 === 0) else docs0
      docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(regexp_replace(col("text"), "^\\S+\\s", ""),
          lit(" u"), col("doc_id").cast("string")).as("text")))
    }
    def knnEdges(): DataFrame = {
      val emb = t("embeddings").select("vec_id", "embedding")
      Similarity.knnGraph(emb, "vec_id", "embedding",
          dim = 64, k = 3, numPlanes = 5, maxBucketSize = 1000000)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    }
    val workloads: Seq[(String, Option[String] => DataFrame)] = Seq(
      "d20_exact_substr" -> (cp => Dedup.exactSubstrDedup(
        substrCorpus(half = false), "doc_id", "text", minLen = 6,
        checkpointDir = cp)),
      "d21_exact_substr_iterated" -> (cp => Dedup.exactSubstrDedupIterated(
        substrCorpus(half = true), "doc_id", "text", minLen = 6,
        passes = 2, checkpointDir = cp)),
      "s36_kcore" -> (cp => Graph.kCore(
        t("embeddings").select("vec_id"), knnEdges(), "vec_id", "src",
        "dst", k = 3, maxRounds = 30, checkpointDir = cp)),
      "s39_ktruss" -> (cp => Graph.kTruss(knnEdges(), "src", "dst",
        k = 3, maxRounds = 20, checkpointDir = cp)))

    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Nil
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    for ((name, build) <- workloads) {
      val times = scala.collection.mutable.Map(
        "local" -> List.empty[Double], "durable" -> List.empty[Double])
      var leftFiles = 0; var leftBytes = 0L
      for (rep <- 1 to reps; mode <- Seq("local", "durable")) {
        val dir = graft.streaming.StreamHarness.tempDir(s"dur_$name")
        val cp = if (mode == "durable") Some(dir) else None
        val t0 = System.nanoTime()
        build(cp).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        times(mode) = times(mode) :+ dt
        if (mode == "durable") {
          val fs = walk(new java.io.File(dir)).filterNot(_.getName.startsWith("."))
          leftFiles = fs.size; leftBytes = fs.map(_.length()).sum
        }
        println(f"[durable-bench] $name $mode rep $rep: $dt%.2f s")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
      def fmt(xs: List[Double]) = xs.map(x => f"$x%.2f").mkString("/")
      val (lm, dm) = (times("local").min, times("durable").min)
      println(f"[durable-bench] SUMMARY $name local=${fmt(times("local"))}s " +
        f"durable=${fmt(times("durable"))}s overhead=${dm / lm}%.2fx " +
        s"residual_files=$leftFiles residual_bytes=$leftBytes")
    }
    spark.stop()
  }
}
