package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Durable-checkpoint mode for every iterative operator (VERDICT r12 #1):
  * `localCheckpoint` pins blocks to executors, so an executor loss
  * mid-iteration kills a multi-round job on a real cluster. Each loop now
  * threads `checkpointDir` through [[graft.pipeline.RoundSnapshots]] —
  * these tests pin (a) RESULT EQUALITY between the two modes (the modes
  * differ only in where rounds materialize; materialization is not
  * arithmetic) and (b) the CLEANUP contract: superseded round files are
  * deleted as the loop advances, so what remains under the directory is
  * bounded by the final frame(s), never O(rounds).
  */
class DurableCheckpointSpec extends SparkTestBase {
  import spark.implicits._

  /** Run `op` in both modes, assert identical sorted results; return the
    * number of snapshot directories left behind in durable mode.
    */
  private def bothModes(tag: String)(
      op: Option[String] => DataFrame): Int = {
    val default = op(None)
    val dir = tempDir(s"dc_$tag")
    val durable = op(Some(dir))
    val cols = default.columns.sorted.toSeq
    def canon(df: DataFrame): Seq[String] =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(durable) === canon(default),
      s"$tag: durable mode must be result-identical to localCheckpoint mode")
    val left = new java.io.File(dir).listFiles()
    val names = if (left == null) Seq.empty[String] else left.map(_.getName).toSeq
    // consume-then-delete contract: removing the dir afterwards is safe
    val leftCount = names.size
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
    leftCount
  }

  // a two-community graph with a bridge — exercises every graph loop
  private lazy val nodes = (0L to 9L).toDF("id")
  private lazy val edges = Seq(
    // clique A: 0-1-2-3 (all pairs)
    0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 1L -> 3L, 2L -> 3L,
    // clique B: 4-5-6-7
    4L -> 5L, 4L -> 6L, 4L -> 7L, 5L -> 6L, 5L -> 7L, 6L -> 7L,
    // bridge + a dangling path
    3L -> 4L, 7L -> 8L, 8L -> 9L).toDF("src", "dst")

  test("pageRank: durable mode result-identical, only contrib + last rank " +
      "snapshot files remain") {
    // 12 iters crosses two rank-snapshot boundaries (every 5 rounds)
    val left = bothModes("pr") { cp =>
      Graph.pageRank(nodes, edges, "id", "src", "dst", iters = 12,
        checkpointDir = cp)
    }
    // contrib_0 + the last ranks snapshot (superseded one freed)
    assert(left === 2, s"expected contrib + 1 rank file, got $left")
  }

  test("personalizedPageRank: durable mode result-identical") {
    val left = bothModes("ppr") { cp =>
      Graph.personalizedPageRank(nodes, edges, "id", "src", "dst",
        seeds = Seq(0L, 4L), iters = 12, checkpointDir = cp)
    }
    assert(left === 2, s"expected contrib + 1 rank file, got $left")
  }

  test("labelPropagation: durable mode result-identical, only the final " +
      "label snapshot remains") {
    val left = bothModes("lpa") { cp =>
      Graph.labelPropagation(nodes, edges, "id", "src", "dst", iters = 4,
        checkpointDir = cp)
    }
    // edges freed at exit, init + 4 rounds rolled down to the final one
    assert(left === 1, s"expected only the final labels file, got $left")
  }

  test("kCore: durable mode result-identical, live-set files bounded by " +
      "the keep-1 window") {
    val left = bothModes("kcore") { cp =>
      Graph.kCore(nodes, edges, "id", "src", "dst", k = 3,
        checkpointDir = cp)
    }
    // edges + (final live set, its predecessor that the degree frame reads)
    assert(left <= 3, s"expected <= 3 files (edges + 2 live sets), got $left")
  }

  test("kTruss: durable mode result-identical, oriented/live files bounded " +
      "by the keep-1 windows") {
    val left = bothModes("ktruss") { cp =>
      Graph.kTruss(edges, "src", "dst", k = 4, checkpointDir = cp)
    }
    // 2 live + 2 oriented at most — never O(rounds)
    assert(left <= 4, s"expected <= 4 files, got $left")
  }

  test("neighborhoodFunction: durable mode result-identical, sketch rounds " +
      "freed as the totals frame advances") {
    val left = bothModes("hyperball") { cp =>
      Graph.neighborhoodFunction(nodes, edges, "id", "src", "dst",
        rounds = 4, checkpointDir = cp)
    }
    // the readout assembles from the observed per-round sums on the
    // driver, so nothing backs the result: every sketch round and the
    // edge snapshot are freed before return
    assert(left === 0, s"expected no snapshot files, got $left")
  }

  test("exactSubstrDedup: durable mode result-identical; the single-pass " +
      "window formulation materializes nothing, so no files at all") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "we saw the quick brown fox jumps over the lazy dog run"),
      (3L, "completely unrelated text with no shared spans at all here"),
      (4L, "short doc")).toDF("doc_id", "text")
    val left = bothModes("substr") { cp =>
      Dedup.exactSubstrDedup(docs, "doc_id", "text", minLen = 8,
        checkpointDir = cp)
    }
    // one lazy plan — nothing iterative to make durable
    assert(left === 0, s"expected no snapshot files, got $left")
  }

  test("exactSubstrDedupIterated: durable mode result-identical, per-pass " +
      "subdirectories purged, leftovers bounded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "some other words that do not repeat anywhere else at all"))
      .toDF("doc_id", "text")
    val left = bothModes("substr_it") { cp =>
      Dedup.exactSubstrDedupIterated(docs, "doc_id", "text", minLen = 6,
        passes = 2, checkpointDir = cp)
    }
    // final pass frame + final totals frame (sub_i dirs deleted per pass)
    assert(left <= 2, s"expected <= 2 files, got $left")
  }

  test("mmrTopK: durable mode result-identical, k pick files remain (the " +
      "result unions them), survivor rounds freed") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f)),
      (5L, Array(0.5f, 0.5f, 0.0f))).toDF("cid", "vec")
    val queries = Seq((100L, Array(1.0f, 0.1f, 0.1f))).toDF("qid", "qvec")
    val left = bothModes("mmr") { cp =>
      Similarity.mmrTopK(corpus, queries, "cid", "vec", "qid", "qvec",
        k = 3, checkpointDir = cp)
    }
    assert(left === 3, s"expected exactly the 3 pick files, got $left")
  }
}
