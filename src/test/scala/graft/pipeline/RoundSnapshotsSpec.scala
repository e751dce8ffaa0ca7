package graft.pipeline

import graft.SparkTestBase

/** Direct unit coverage of the shared per-round materialization
  * primitive (DurableCheckpointSpec drives it through the operators;
  * this pins the primitive's own contracts).
  */
class RoundSnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def files(dir: String): Seq[String] = {
    val f = new java.io.File(dir).listFiles()
    if (f == null) Seq.empty else f.map(_.getName).sorted.toSeq
  }

  test("durable mode: snap writes a labeled round file, free deletes it, " +
      "values round-trip exactly") {
    val dir = tempDir("rs")
    val snaps = new RoundSnapshots(Some(dir))
    val s1 = snaps.snap(Seq(1, 2, 3).toDF("x"), "alpha")
    val s2 = snaps.snap(Seq(4).toDF("x"), "beta")
    assert(files(dir) === Seq("alpha_0", "beta_1"),
      "labels + the per-instance counter name the round files")
    assert(s1.df.as[Int].collect().sorted.toSeq === Seq(1, 2, 3),
      "the snapshot reads back the written frame")
    snaps.free(s1)
    assert(files(dir) === Seq("beta_1"), "free deletes exactly its file")
    snaps.free(s2)
    assert(files(dir) === Seq.empty)
  }

  test("roll window: advance frees everything older than `keep` " +
      "predecessors; trim and close release the rest") {
    val dir = tempDir("rs2")
    val snaps = new RoundSnapshots(Some(dir))
    val roll = snaps.roll("r", keep = 1)
    (1 to 4).foreach(i => roll.advance(Seq(i).toDF("x")))
    // current (r_3) + one predecessor (r_2); r_0/r_1 freed as superseded
    assert(files(dir) === Seq("r_2", "r_3"), files(dir).toString)
    roll.trim(1)
    assert(files(dir) === Seq("r_3"), "trim keeps only the newest")
    roll.close()
    assert(files(dir) === Seq.empty, "close releases the current round too")
  }

  test("local mode (checkpointDir = None): snapshots are localCheckpoints " +
      "(no files), free unpersists without breaking an already-read frame") {
    val snaps = new RoundSnapshots(None)
    val roll = snaps.roll("r")
    var df = roll.advance(Seq(1, 2).toDF("x"))
    df = roll.advance(df.select(($"x" + 1).as("x")))
    assert(df.as[Int].collect().sorted.toSeq === Seq(2, 3))
    roll.close()
  }

  test("snapObserved: the observed aggregates compute inside the " +
      "materialization action (both modes) and the returned frame is " +
      "the materialized snapshot") {
    import org.apache.spark.sql.functions._
    // local mode: metrics ride the eager localCheckpoint
    val local = new RoundSnapshots(None)
    val (s1, m1) = local.snapObserved(Seq(1, 2, 3).toDF("x"),
      Seq(count(lit(1)).as("__n"), sum($"x".cast("long")).as("__s")))
    assert(m1("__n") === 3L, m1.toString)
    assert(m1("__s") === 6L, m1.toString)
    assert(s1.df.as[Int].collect().sorted.toSeq === Seq(1, 2, 3))
    local.free(s1)
    // durable mode: metrics ride the parquet write; the read-back frame
    // carries no CollectMetrics node
    val dir = tempDir("rs4")
    val durable = new RoundSnapshots(Some(dir))
    val (s2, m2) = durable.snapObserved(Seq(4, 5).toDF("x"),
      Seq(count(lit(1)).as("__n")), "obs")
    assert(m2("__n") === 2L, m2.toString)
    assert(s2.df.as[Int].collect().sorted.toSeq === Seq(4, 5))
    assert(!s2.df.queryExecution.optimizedPlan.toString.contains(
      "CollectMetrics"), "read-back frame must not re-fire the metrics")
    durable.free(s2)
    // a roll advanceObserved frees superseded rounds exactly like advance
    val roll = durable.roll("ro")
    val (_, rm1) = roll.advanceObserved(Seq(1).toDF("x"),
      Seq(count(lit(1)).as("__n")))
    val (_, rm2) = roll.advanceObserved(Seq(1, 2).toDF("x"),
      Seq(count(lit(1)).as("__n")))
    assert(rm1("__n") === 1L && rm2("__n") === 2L)
    assert(files(dir).size === 1, "superseded observed round must be freed")
    roll.close()
  }

  test("distinct labels share one counter, so one operator invocation " +
      "never collides paths across its rolls") {
    val dir = tempDir("rs3")
    val snaps = new RoundSnapshots(Some(dir))
    snaps.snap(Seq(1).toDF("x"), "a")
    val roll = snaps.roll("b")
    roll.advance(Seq(2).toDF("x"))
    snaps.snap(Seq(3).toDF("x"), "a")
    assert(files(dir) === Seq("a_0", "a_2", "b_1"), files(dir).toString)
  }
}
