package graft

import graft.model._
import graft.operators.Dedup
import graft.pipeline.MigrationPlanner
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.2): upsert idempotence, filter-chain
  * order-insensitivity, TTL monotonicity, signature determinism, Jaccard
  * bounds. Small generated datasets through the REAL planner/operators.
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic property loop: n seeded samples from a ScalaCheck Gen
    * (the scalatest-scalacheck bridge isn't in the offline dep set).
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 12)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  private val rowsGen: Gen[Seq[(String, Int, Long)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      pk <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.choose(0, 5)
      ord <- Gen.choose(0L, 100L)
    } yield (pk, v, ord))
  } yield rows

  test("property: keep-last upsert is idempotent (migrate twice == once)") {
    forAllSeeded(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val dir = tempDir("prop")
        val srcRef = TableRef(path = s"$dir/src")
        val tgtRef = TableRef(path = s"$dir/tgt")
        rows.toDF("pk", "v", "ord").write.mode("overwrite")
          .parquet(Tables.tablePath(srcRef, "t"))
        val t = TableMigrationDef("t", pkColumns = Seq("pk"),
          orderingColumns = Seq("ord", "v"), simulateOnly = false)
        val cfg = MigrationConfig(srcRef, tgtRef, Nil)
        MigrationPlanner.execute(spark, cfg, t)
        val once = Tables.load(spark, tgtRef, "t")
          .as[(String, Int, Long)].collect().toSet
        // migrating the (already deduped) result again changes nothing
        val cfg2 = MigrationConfig(tgtRef, TableRef(path = s"$dir/tgt2"), Nil)
        MigrationPlanner.execute(spark, cfg2, t)
        val twice = Tables.load(spark, TableRef(path = s"$dir/tgt2"), "t")
          .as[(String, Int, Long)].collect().toSet
        assert(once === twice)
        // exactly one row per pk, carrying the max ordering tuple
        assert(once.size === rows.map(_._1).distinct.size)
      }
    }
  }

  test("property: pure filter chains are order-insensitive") {
    forAllSeeded(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("pk", "v", "ord")
        val f1 = "row.v >= 2"
        val f2 = "row.ord < 80 || row.pk == 'a'"
        def run(filters: Seq[FilterDef]) = {
          val t = TableMigrationDef("t", filters = filters)
          val (out, _) = MigrationPlanner.narrowPlan(df, None, t)
          out.as[(String, Int, Long)].collect().toSet
        }
        assert(run(Seq(FieldValueFilter(f1), FieldValueFilter(f2))) ===
          run(Seq(FieldValueFilter(f2), FieldValueFilter(f1))))
      }
    }
  }

  test("property: TTL re-base preserves ordering (monotone)") {
    forAllSeeded(Gen.listOfN(10, Gen.choose(0L, 86400L))) { ttls =>
      if (ttls.nonEmpty) {
        val df = ttls.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ttl")
        val t = TableMigrationDef("t",
          ttl = Some(TtlSpec("ttl", sourceTableTtl = 86400, targetTableTtl = 604800)))
        val (out, _) = MigrationPlanner.narrowPlan(df, None, t)
        val res = out.orderBy("id").select("ttl").as[Long].collect()
        // same order as input ttls (monotone transform), all <= target ttl
        assert(res.zip(ttls).toSeq.sliding(2).forall {
          case Seq((a, ta), (b, tb)) => (ta <= tb) == (a <= b)
          case _ => true
        })
        assert(res.forall(_ <= 604800L))
      }
    }
  }

  test("property: minhash signatures are deterministic and length-stable") {
    forAllSeeded(Gen.alphaStr.suchThat(_.length < 200), n = 6) { text =>
      val df = Seq((1L, text), (2L, text)).toDF("id", "text")
      val sigs = df.select(
        graft.functions.GraftFunctions.minhash_sig(
          graft.functions.GraftFunctions.shingle_hashes(
            Dedup.normalized(col("text")), 5), 32)).as[Seq[Long]].collect()
      assert(sigs(0) === sigs(1)) // identical input, identical signature
      assert(sigs(0).length === 32)
    }
  }

  test("property: clusterAssignments equals union-find on random graphs") {
    val graphGen: Gen[(Int, List[(Long, Long)])] = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(0, 40)
      edges <- Gen.listOfN(m, Gen.zip(
        Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n, edges.filter { case (a, b) => a != b })
    forAllSeeded(graphGen, n = 8) { case (n, edges) =>
      // reference model: textbook union-find with path compression
      val parent = Array.tabulate(n.toLong.toInt)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap

      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("idA", "idB")
        else edges.toDF("idA", "idB")
      val got = Dedup.clusterAssignments(pairsDf,
        (0L until n.toLong).toDF("doc_id"), "doc_id")
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"n=$n edges=$edges")
    }
  }

  test("property: clusterRepresentatives equals the brute-force argmax per cluster") {
    val gen: Gen[(Int, List[(Long, Long)], Map[Long, Double])] = for {
      n <- Gen.choose(2, 25)
      m <- Gen.choose(0, 30)
      edges <- Gen.listOfN(m, Gen.zip(
        Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      // coarse score grid forces plenty of exact ties
      scores <- Gen.listOfN(n, Gen.choose(0, 3).map(_ / 4.0))
    } yield (n, edges.filter { case (a, b) => a != b },
      scores.zipWithIndex.map { case (s, i) => i.toLong -> s }.toMap)
    forAllSeeded(gen, n = 8) { case (n, edges, scores) =>
      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("idA", "idB")
        else edges.toDF("idA", "idB")
      val clusters = Dedup.clusterAssignments(pairsDf,
        (0L until n.toLong).toDF("doc_id"), "doc_id")
      val assign = clusters.as[(Long, Long)].collect().toMap
      // reference model: fold members per cluster, pick (max score, then
      // min id), count members
      val expected = assign.groupBy(_._2).map { case (cid, members) =>
        val ids = members.keys.toSeq
        val best = ids.map(id => (-scores(id), id)).min._2
        cid -> ((ids.size.toLong, best, scores(best)))
      }
      val got = Dedup.clusterRepresentatives(clusters,
          scores.toSeq.toDF("doc_id", "quality"),
          "doc_id", "cluster_id", "quality")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === expected, s"n=$n edges=$edges scores=$scores")
    }
  }

  test("property: asOf tolerance equals the untolerated join with far " +
      "matches nulled") {
    val gen: Gen[(List[(Long, Long)], List[(Long, Long, Long)], Long)] = for {
      nl <- Gen.choose(1, 15)
      nr <- Gen.choose(0, 15)
      lefts <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 40L)))
      rights <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 40L)))
      tol <- Gen.choose(0L, 15L)
    } yield (lefts, rights.zipWithIndex.map { case ((k, t), i) =>
      (k, t, i.toLong) }, tol)
    forAllSeeded(gen, n = 8) { case (lefts, rights, tol) =>
      val l = lefts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("l_id", "key", "l_ts")
      val r =
        if (rights.isEmpty) Seq.empty[(Long, Long, Long)].toDF("key", "r_ts", "r_id")
        else rights.toDF("key", "r_ts", "r_id")
      def run(t: Option[Long]) = graft.operators.TemporalJoin.asOfJoin(
        l, r, Seq("key"), "l_ts", "r_ts", payload = Seq("r_id", "r_ts"),
        tieBreak = Some("r_id"), direction = "nearest", tolerance = t)
        .select($"l_id", $"right_r_id", $"right_r_ts")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some((row.getLong(1), row.getLong(2)))))
        .toMap
      val free = run(None)
      val bounded = run(Some(tol))
      val lTs = l.as[(Long, Long, Long)].collect().map(x => x._1 -> x._3).toMap
      val expected = free.map { case (id, m) =>
        id -> m.filter { case (_, rts) => math.abs(lTs(id) - rts) <= tol }
      }
      assert(bounded === expected, s"tol=$tol lefts=$lefts rights=$rights")
    }
  }

  test("property: span dedup equals the brute-force spec and conserves counts") {
    // tiny vocabulary forces heavy gram collisions across random docs
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      nDocs <- Gen.choose(3, 8)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(5, 20)
        toks <- Gen.listOfN(len, Gen.oneOf("ax", "bx", "cx", "dx", "ex", "fx"))
      } yield toks.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAllSeeded(corpusGen, n = 6) { rows =>
      val df = rows.toDF("doc_id", "text")
      val once = Dedup.removeDuplicatedSpans(df, "doc_id", "text", n = 3)
      val out = once.collect().map(r =>
        r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
      // conservation: kept tokens + removed == original count, per doc
      rows.foreach { case (id, text) =>
        val (kept, nTok, nRem) = out(id)
        assert(nTok === text.split(" ").length)
        val keptCount = if (kept.isEmpty) 0 else kept.split(" ").length
        assert(keptCount + nRem === nTok, s"doc $id: $kept / $nTok / $nRem")
      }
      // brute-force equivalence on gram STRINGS (note: the op is NOT
      // idempotent by design — removal creates new boundary adjacencies
      // whose grams may duplicate again, same as token-stream ExactSubstr)
      val occs = rows.flatMap { case (id, text) =>
        text.split(" ").sliding(3).zipWithIndex.map {
          case (g, pos) => (g.mkString(" "), id, pos)
        }
      }
      val dupGroups = occs.groupBy(_._1).filter(_._2.size >= 2)
      val covered: Map[Long, Set[Int]] = dupGroups.toSeq.flatMap {
        case (_, os) =>
          val canon = os.minBy(o => (o._2, o._3))
          os.filterNot(_ == canon).flatMap {
            case (_, id, pos) => (pos until pos + 3).map(id -> _)
          }
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      rows.foreach { case (id, text) =>
        val cov = covered.getOrElse(id, Set.empty)
        val expect = text.split(" ").zipWithIndex
          .collect { case (t, i) if !cov(i) => t }.mkString(" ")
        assert(out(id)._1 === expect, s"doc $id diverged from brute force")
      }
    }
  }

  test("property: SCD2 intervals chain per key with exactly one current row") {
    val logGen: Gen[Seq[(Long, Long, Int)]] = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(1L, 4L)
        ver <- Gen.choose(1L, 50L)
        p <- Gen.choose(0, 99)
      } yield (k, ver, p))
    } yield rows
    forAllSeeded(logGen, n = 8) { rows =>
      val df = rows.toDF("k", "ver", "p")
      val got = graft.operators.Cdc.scd2History(df, Seq("k"), "ver",
          tieBreak = Seq("p"))
        .select("k", "valid_from", "valid_to", "is_current")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Long.MaxValue else r.getLong(2), r.getBoolean(3)))
      got.groupBy(_._1).foreach { case (k, ivs) =>
        val sorted = ivs.sortBy(_._2)
        // one row per distinct version, chained, half-open, one current
        assert(sorted.map(_._2).distinct.length === sorted.length)
        sorted.sliding(2).foreach {
          case Array((_, _, to, _), (_, from2, _, _)) => assert(to === from2)
          case _ =>
        }
        assert(sorted.count(_._4) === 1, s"key $k currents != 1")
        assert(sorted.last._4, s"key $k: current must be the max version")
        assert(sorted.forall(iv => iv._3 > iv._2), s"key $k: empty interval")
      }
    }
  }

  test("property: applyCdc equals the driver-side latest-wins fold") {
    val caseGen: Gen[(Seq[(Long, Int)], Seq[(Long, Int, Long, String)])] = for {
      snapKeys <- Gen.someOf(1L to 6L)
      snap = snapKeys.map(k => (k, k.toInt * 10)).toSeq
      nCh <- Gen.choose(0, 25)
      ch <- Gen.listOfN(nCh, for {
        k <- Gen.choose(1L, 8L)
        p <- Gen.choose(0, 99)
        ver <- Gen.choose(1L, 40L)
        op <- Gen.oneOf("U", "U", "U", "D") // deletes rarer
      } yield (k, p, ver, op))
    } yield (snap, ch)
    forAllSeeded(caseGen, n = 10) { case (snap, chRows) =>
      // make (k, ver) unique so latest-wins is well-defined without ties
      val ch = chRows.groupBy(r => (r._1, r._3)).values.map(_.head).toSeq
      val snapDf = snap.toDF("k", "p")
      val chDf = ch.toDF("k", "p", "ver", "op")
      val got = graft.operators.Cdc.applyCdc(snapDf, chDf, Seq("k"), "ver", "op")
        .as[(Long, Int)].collect().toMap
      val latest = ch.groupBy(_._1).view.mapValues(_.maxBy(_._3)).toMap
      val expected = ((snap.map(_._1) ++ ch.map(_._1)).distinct.flatMap { k =>
        latest.get(k) match {
          case Some((_, p, _, "U")) => Some(k -> p)
          case Some((_, _, _, "D")) => None
          case None => snap.find(_._1 == k).map(s => k -> s._2)
          case _ => None
        }
      }).toMap
      assert(got === expected)
    }
  }

  test("property: jaccard_sorted is within [0,1] and symmetric") {
    val arrGen = Gen.listOf(Gen.choose(0L, 50L)).map(_.distinct.sorted.toArray)
    forAllSeeded(Gen.zip(arrGen, arrGen), n = 8) { case (a, b) =>
      val df = Seq((a, b), (b, a)).toDF("x", "y")
      val js = df.select(
        graft.functions.GraftFunctions.jaccard_sorted(col("x"), col("y")))
        .as[Double].collect()
      assert(js(0) === js(1))
      assert(js(0) >= 0.0 && js(0) <= 1.0)
      if (a.nonEmpty && a.sameElements(b)) assert(js(0) === 1.0)
    }
  }

  test("property: semanticDedup is idempotent — the kept set never shrinks again") {
    // a kept vector has NO smaller-id mate at >= threshold, so re-running
    // on the survivors can introduce no new pairs; dedup∘dedup == dedup
    val vecGen: Gen[Seq[(Long, Array[Float])]] = for {
      n <- Gen.choose(2, 24)
      rows <- Gen.listOfN(n, for {
        base <- Gen.choose(0, 3) // few directions → real duplicate pressure
        scale <- Gen.choose(1, 4)
        jitter <- Gen.choose(0, 1)
      } yield (base, scale, jitter))
    } yield rows.zipWithIndex.map { case ((b, s, j), i) =>
      val v = new Array[Float](4)
      v(b) = s.toFloat
      v((b + 1) % 4) = j * 0.01f
      (i.toLong, v)
    }
    forAllSeeded(vecGen, n = 6) { rows =>
      val df = rows.toDF("vec_id", "embedding")
      val first = graft.operators.Similarity.semanticDedup(
        df, "vec_id", "embedding", numClusters = 2, threshold = 0.999)
      val keptIds = first.filter($"keep").select("vec_id")
        .as[Long].collect().toSet
      val kept = df.filter($"vec_id".isin(keptIds.toSeq: _*))
      val second = graft.operators.Similarity.semanticDedup(
        kept, "vec_id", "embedding", numClusters = 2, threshold = 0.999)
      assert(second.filter(!$"keep").count() === 0L,
        s"re-dedup dropped rows out of kept set $keptIds")
    }
  }

  test("property: snapshotDiff round-trips through applyCdc on random snapshots") {
    val snapGen: Gen[(Seq[(Long, Int)], Seq[(Long, Int)])] = for {
      nb <- Gen.choose(0, 30)
      na <- Gen.choose(0, 30)
      before <- Gen.listOfN(nb, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0, 5)))
      after <- Gen.listOfN(na, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0, 5)))
    } yield (before.distinctBy(_._1), after.distinctBy(_._1))
    forAllSeeded(snapGen, n = 8) { case (before, after) =>
      val b = before.toDF("k", "p")
      val a = after.toDF("k", "p")
      val diff = graft.operators.Cdc.snapshotDiff(b, a, Seq("k"))
        .withColumn("ver", lit(1L))
      val rebuilt = graft.operators.Cdc.applyCdc(b, diff, Seq("k"), "ver", "op")
        .as[(Long, Int)].collect().toSet
      assert(rebuilt === after.toSet)
      // identical rows emit nothing: diff of a snapshot with itself is empty
      assert(graft.operators.Cdc.snapshotDiff(b, b, Seq("k")).count() === 0L)
    }
  }

  test("property: shardBy partitions the input — every row lands in exactly one shard") {
    val docsGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(1, 40)
      texts <- Gen.listOfN(n, Gen.alphaStr)
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    forAllSeeded(docsGen, n = 6) { docs =>
      val df = docs.toDF("doc_id", "text")
      val laid = graft.operators.Layout.shardBy(df, "doc_id",
        graft.operators.TextAnalysis.fingerprint(col("text")), numShards = 3)
      assert(laid.count() === docs.length.toLong)
      assert(laid.select("doc_id").as[Long].collect().toSet ===
        docs.map(_._1).toSet)
      // dense ranks within every shard
      laid.select("shard", "pos_in_shard").as[(Int, Long)].collect()
        .groupBy(_._1).values.foreach { rs =>
          assert(rs.map(_._2).sorted.toSeq === (0L until rs.length).toSeq)
        }
    }
  }

  test("property: compaction bins are contiguous and never exceed target + largest file") {
    val filesGen: Gen[Seq[(String, Long)]] = for {
      n <- Gen.choose(1, 30)
      sizes <- Gen.listOfN(n, Gen.choose(1L, 2000L))
    } yield sizes.zipWithIndex.map { case (s, i) => (f"f$i%03d", s) }
    forAllSeeded(filesGen, n = 8) { files =>
      val target = 1000L
      val df = files.toDF("path", "bytes").withColumn("part", lit("p"))
      val got = graft.operators.Layout.compactionGroups(
          df, Seq("part"), "path", "bytes", target)
        .select("path", "bytes", "bin").as[(String, Long, Long)].collect()
      val byBin = got.groupBy(_._3)
      val maxFile = files.map(_._2).max
      // the first bin is 0 (an oversize file spanning several target
      // windows may legitimately skip later bin indices)
      assert(byBin.keySet.min === 0L)
      // no bin exceeds a target window plus one overflowing file
      byBin.foreach { case (_, fs) =>
        assert(fs.map(_._2).sum <= target + maxFile)
      }
      // all input bytes are binned exactly once
      assert(got.map(_._2).sum === files.map(_._2).sum)
    }
  }

  test("property: bigramLmScore is invariant to document id permutation") {
    val docsGen: Gen[Seq[String]] = for {
      n <- Gen.choose(2, 12)
      docs <- Gen.listOfN(n,
        Gen.listOf(Gen.oneOf("a", "b", "c", "dog", "cat")).map(_.mkString(" ")))
    } yield docs
    forAllSeeded(docsGen, n = 5) { docs =>
      def scores(ids: Seq[Long]): Map[String, (Long, Double)] = {
        val df = ids.zip(docs).toDF("doc_id", "text")
        graft.operators.TextAnalysis.bigramLmScore(df, "doc_id", "text")
          .as[(Long, Long, Double)].collect()
          .map(r => docs(ids.indexOf(r._1)) -> ((r._2, r._3))).toMap
      }
      val base = scores(docs.indices.map(_.toLong))
      val permuted = scores(docs.indices.map(i => (1000L - i)))
      assert(base === permuted)
    }
  }

  test("property: bpePairCounts total mass equals sum of freq·(len−1) " +
      "over multi-char words") {
    val docsGen: Gen[Seq[String]] = for {
      n <- Gen.choose(1, 10)
      docs <- Gen.listOfN(n,
        Gen.listOf(Gen.oneOf("a", "ab", "abc", "dog", "x", "zz"))
          .map(_.mkString(" ")))
    } yield docs
    forAllSeeded(docsGen, n = 8) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextAnalysis.bpePairCounts(df, "text")
        .as[(String, Long)].collect()
      val words = docs.flatMap(_.split("\\s+")).filter(_.length >= 2)
      val expectedMass = words.map(_.length - 1L).sum
      assert(got.map(_._2).sum === expectedMass)
      // every emitted pair is 2 chars and actually occurs in some word
      got.foreach { case (p, _) =>
        assert(p.length == 2 && words.exists(_.contains(p)), p)
      }
    }
  }

  test("property: leakageSafeSplit fraction converges and respects groups " +
      "for arbitrary group keys") {
    val gen: Gen[(Long, Int)] = for {
      seed <- Gen.choose(0L, 1000L)
      groups <- Gen.choose(50, 300)
    } yield (seed, groups)
    forAllSeeded(gen, n = 5) { case (seed, groups) =>
      val rows = (1L to groups * 3L).map(i => (i, i % groups)).toDF("id", "grp")
      val got = graft.operators.CorpusStats
        .leakageSafeSplit(rows, "grp", trainFrac = 0.5, seed = seed)
        .select("grp", "split").as[(Long, String)].collect()
      got.groupBy(_._1).values.foreach(g =>
        assert(g.map(_._2).distinct.length == 1))
      val frac = got.count(_._2 == "train").toDouble / got.length
      assert(frac > 0.3 && frac < 0.7, s"seed=$seed groups=$groups frac=$frac")
    }
  }

  test("property: kmeansRefine matches the driver-side replay of its " +
      "quantized arithmetic on random pools") {
    def decMean(vs: Seq[Double]): Double =
      vs.map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / vs.size
    def qdist(v: Seq[Float], c: Seq[Double]): Long =
      v.zip(c).map { case (a, b) =>
        val d = a.toDouble - b; math.round(d * d * 1e9)
      }.sum
    val poolGen: Gen[(Int, Int, Seq[(Long, Seq[Float])])] = for {
      n <- Gen.choose(5, 24)
      k <- Gen.choose(1, 4)
      iters <- Gen.choose(0, 3)
      dim <- Gen.choose(2, 5)
      vecs <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.choose(-1000, 1000).map(_ / 100f)))
    } yield (k, iters, vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    forAllSeeded(poolGen, n = 6) { case (k, iters, pts) =>
      val dim = pts.head._2.size
      val got = graft.operators.Similarity.kmeansRefine(
          pts.toDF("vec_id", "embedding"), "vec_id", "embedding", k, iters)
        .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
      var cents: Seq[Seq[Double]] =
        pts.sortBy(_._1).take(k).map(_._2.map(_.toDouble))
      def assignAll(): Map[Long, Int] = pts.map { case (i, v) =>
        i -> cents.zipWithIndex.map { case (c, ci) => (qdist(v, c), ci) }
          .min._2
      }.toMap
      for (_ <- 0 until iters) {
        val a = assignAll()
        cents = cents.indices.map { ci =>
          val members = pts.filter { case (i, _) => a(i) == ci }
          if (members.isEmpty) cents(ci)
          else (0 until dim).map(d => decMean(members.map(_._2(d).toDouble)))
        }
      }
      assert(assignAll() === got, s"k=$k iters=$iters pool=$pts")
    }
  }

  test("property: clusterCohesion equals brute-force edge/triangle counts " +
      "on random graphs") {
    val graphGen: Gen[(Seq[(Long, Long)], Map[Long, Long])] = for {
      n <- Gen.choose(3, 16)
      density <- Gen.choose(1, 4)
      edges <- Gen.listOfN(n * density, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (math.min(a, b), math.max(a, b)))
    } yield {
      val es = edges.filter(e => e._1 < e._2).distinct
      // components via union-find -> the cluster map clusterCohesion takes
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r)
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val label = (0L until n.toLong).map(i => i ->
        (0L until n.toLong).filter(j => find(j) == find(i)).min).toMap
      (es, label)
    }
    forAllSeeded(graphGen, n = 8) { case (edges, clusters) =>
      if (edges.nonEmpty) {
        val got = graft.operators.Dedup.clusterCohesion(
            edges.toDF("idA", "idB"),
            clusters.toSeq.toDF("doc_id", "cluster_id"), "doc_id")
          .as[(Long, Long, Long, Long, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        val es = edges.toSet
        clusters.values.toSet.foreach { cl: Long =>
          val members = clusters.filter(_._2 == cl).keys.toSeq.sorted
          val ce = edges.count { case (a, b) =>
            clusters(a) == cl && clusters(b) == cl }
          val tri = (for {
            i <- members.indices; j <- (i + 1) until members.size
            l <- (j + 1) until members.size
            a = members(i); b = members(j); c = members(l)
            if es((a, b)) && es((b, c)) && es((a, c))
          } yield 1).size
          assert(got(cl) === ((members.size.toLong, ce.toLong, tri.toLong)),
            s"cluster $cl of $clusters with $edges")
        }
      }
    }
  }

  test("property: both fuzzy-join strategies equal brute force on random " +
      "small-alphabet strings (collision-heavy: the hard regime)") {
    // tiny alphabet + short strings maximizes near-miss pairs, sub-q
    // strings, duplicates, and shared grams — the adversarial regime for
    // both the positional-q-gram and the deletion-neighborhood path
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strGen: Gen[String] = for {
      n <- Gen.choose(0, 7)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val poolGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(2, 25)
      ss <- Gen.listOfN(n, strGen)
    } yield ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    forAllSeeded(poolGen, n = 8) { pool =>
      val df = pool.toDF("id", "s")
      for (d <- Seq(1, 2)) {
        val want = (for {
          (ia, sa) <- pool; (ib, sb) <- pool
          if ia < ib && math.abs(sa.length - sb.length) <= d && lev(sa, sb) <= d
        } yield (ia, ib, lev(sa, sb))).toSet
        val qgram = graft.operators.FuzzyJoin
          .editDistanceSelfJoin(df, "id", "s", maxDist = d)
          .as[(Long, Long, Int)].collect().toSet
        assert(qgram === want, s"q-gram path diverged at d=$d pool=$pool")
        val symdel = graft.operators.FuzzyJoin
          .deletionNeighborhoodSelfJoin(df, "id", "s", maxDist = d)
          .as[(Long, Long, Int)].collect().toSet
        assert(symdel === want, s"symdelete path diverged at d=$d pool=$pool")
      }
    }
  }
}
