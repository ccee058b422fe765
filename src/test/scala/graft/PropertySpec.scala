package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated properties over small in-memory DataFrames
  * (SURVEY.md §5.3) — plain `Gen` sampling across fixed seeds (the
  * scalatest/scalacheck bridge artifact isn't vendored offline).
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int = 5): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val words = Gen.listOfN(30, Gen.oneOf("a", "b", "cc", "dd", "e f", "gg"))

  test("word count totals equal token count for arbitrary corpora") {
    samples(words).foreach { ws =>
      import spark.implicits._
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val tokens = df.select(explode(split(col("text"), " ")).as("t"))
      val counted = tokens.groupBy("t").agg(count(lit(1)).as("n"))
      assert(counted.agg(sum("n")).collect()(0).getLong(0) === tokens.count())
    }
  }

  test("connectedComponents equals BFS reference on random graphs (chains, cycles, isolates)") {
    import spark.implicits._
    // up to 30 nodes (diameter < the 50-iteration bound even for a path),
    // random edge sets incl. none (all isolates) and dense (one component)
    val graphGen = for {
      n <- Gen.chooseNum(1, 30)
      m <- Gen.chooseNum(0, 45)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield (n, edges.filter { case (a, b) => a != b })
    samples(graphGen, n = 8).foreach { case (n, edges) =>
      val nodes = (0L until n.toLong).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        else edges.toDF("doc_a", "doc_b")
      // the driver-local finish (default budget) and the rounds (budget
      // 0) must both give the reference labels
      def labels(localRows: Int) =
        graft.ops.DedupOps.connectedComponents(nodes, pairs, localRows)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // BFS reference
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
      edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      (0L until n.toLong).foreach { s =>
        if (!ref.contains(s)) {
          val seen = scala.collection.mutable.Set(s)
          val queue = scala.collection.mutable.Queue(s)
          while (queue.nonEmpty) {
            val v = queue.dequeue()
            adj(v).foreach(u => if (seen.add(u)) queue.enqueue(u))
          }
          val label = seen.min
          seen.foreach(v => ref(v) = label)
        }
      }
      for (localRows <- Seq(graft.ops.Fixpoint.localFinishRows, 0))
        assert(labels(localRows) === ref.toMap, s"localRows=$localRows n=$n edges=$edges")
    }
  }

  test("Misra-Gries candidates contain every true heavy hitter (random skewed streams)") {
    import spark.implicits._
    val streamGen = for {
      n <- Gen.chooseNum(50, 400)
      toks <- Gen.listOfN(n, Gen.frequency(
        (8, Gen.oneOf("hot1", "hot2")),
        (3, Gen.oneOf("warm1", "warm2", "warm3")),
        (2, Gen.oneOf((1 to 30).map("cold" + _)))))
      k <- Gen.chooseNum(3, 12)
    } yield (toks, k)
    samples(streamGen, n = 6).foreach { case (toks, k) =>
      val df = toks.toDF("token").repartition(4)
      val cand = graft.ops.QualityOps.mgCandidates(df, k)
        .collect().map(_.getString(0)).toSet
      val counts = toks.groupBy(identity).view.mapValues(_.size).toMap
      val heavies = counts.collect { case (t, c) if c.toLong * k > toks.size => t }.toSet
      assert(heavies.subsetOf(cand), s"missed ${heavies -- cand} k=$k n=${toks.size}")
    }
  }

  test("dropDuplicates is idempotent") {
    samples(words).foreach { ws =>
      import spark.implicits._
      val df = ws.toDF("w")
      val once = df.dropDuplicates("w")
      assert(once.count() === once.dropDuplicates("w").count())
    }
  }

  test("orderBy is a permutation (sort preserves multiset)") {
    samples(Gen.listOfN(40, Gen.chooseNum(-1000, 1000))).foreach { xs =>
      import spark.implicits._
      val df = xs.toDF("x")
      val sorted = df.orderBy("x").collect().map(_.getInt(0))
      assert(sorted.sorted.sameElements(xs.sorted))
    }
  }

  test("two-phase ntile closed form equals Spark's ntile for arbitrary sizes") {
    // the closed form WindowOps.windowRankFamily uses: the first n%q
    // tiles get ceil(n/q) rows, the rest floor(n/q)
    def closedForm(rn: Long, n: Long, q: Long): Long = {
      val base = n / q
      val rem = n % q
      val cut = rem * (base + 1)
      (if (rn <= cut) (rn - 1) / (base + 1) else rem + (rn - cut - 1) / base) + 1
    }
    samples(Gen.chooseNum(1, 37), n = 10).foreach { n =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val df = (1 to n).map(_.toLong).toDF("x")
      val w = Window.orderBy("x")
      val got = df.select(col("x"), ntile(4).over(w).cast("long").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (1 to n).foreach { rn =>
        assert(got(rn.toLong) === closedForm(rn.toLong, n.toLong, 4L),
          s"n=$n rn=$rn")
      }
    }
  }

  test("PairEnum property: random skewed buckets, blocked == plain self-join") {
    import graft.ops.PairEnum
    val bucketGen = Gen.frequency(
      (6, Gen.const("hot")),
      (3, Gen.oneOf("b1", "b2", "b3")),
      (1, Gen.chooseNum(0, 50).map("u" + _)))
    samples(Gen.listOfN(120, bucketGen), n = 3).foreach { bs =>
      import spark.implicits._
      val df = bs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bucket")
      val plain = df.as("x").join(df.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      val blocked = PairEnum
        .blockedSelfJoinPairs(df, Seq("bucket"), "id", Seq.empty, blockSize = 16)
        .select("a_id", "b_id")
      assert(blocked.count() === plain.count())
      assert(blocked.except(plain).count() === 0)
      assert(plain.except(blocked).count() === 0)
    }
  }

  test("TopKPerKey property: random data and k, heap and spill paths equal reference") {
    val gen = for {
      n <- Gen.chooseNum(1, 200)
      ks <- Gen.listOfN(n, Gen.chooseNum(0, 8))
      vs <- Gen.listOfN(n, Gen.chooseNum(-100, 100))
      k <- Gen.chooseNum(1, 4)
      cap <- Gen.oneOf(2, 1 << 16) // 2 forces the sort-fallback, 1<<16 the heap path
    } yield (ks.zip(vs).zipWithIndex.map { case ((key, v), i) =>
      (key.toLong, v.toDouble, i.toLong) }, k, cap)
    samples(gen, n = 6).foreach { case (rows, k, cap) =>
      import spark.implicits._
      val df = rows.toDF("key", "value", "uid")
      val got = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), "value", descending = true,
          tiebreakers = Seq("uid"), k = k, maxKeysInMemory = cap)
        .select("key", "rn", "uid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val expect = rows.groupBy(_._1).flatMap { case (key, rs) =>
        rs.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
          .map { case (r, i) => (key, i + 1, r._3) }
      }.toSet
      assert(got === expect, s"k=$k cap=$cap")
    }
  }

  test("semi + anti joins partition the left side") {
    val pairs = for {
      ls <- Gen.listOfN(20, Gen.chooseNum(0, 5))
      rs <- Gen.listOfN(20, Gen.chooseNum(0, 5))
    } yield (ls, rs)
    samples(pairs).foreach { case (ls, rs) =>
      import spark.implicits._
      val l = ls.toDF("k")
      val r = rs.toDF("k")
      val semi = l.join(r, Seq("k"), "left_semi").count()
      val anti = l.join(r, Seq("k"), "left_anti").count()
      assert(semi + anti === ls.length.toLong)
    }
  }

  test("Morton interleave property: z-value decodes back to both coordinates, z-order refines the quadrant order") {
    import spark.implicits._
    // the mask-shift cascade is the kind of bit code a one-character typo
    // breaks silently; pin it against a driver-side reference decode
    val coordGen = for {
      a <- Gen.chooseNum(0, 0xFFFF); b <- Gen.chooseNum(0, 0xFFFF)
    } yield (a.toLong, b.toLong)
    def refInterleave(a: Long, b: Long): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val pts = samples(Gen.listOfN(64, coordGen), n = 4).flatten
    val df = pts.toDF("a", "b")
      .withColumn("z", graft.ops.LayoutOps.zorderValue(col("a"), col("b")))
      .collect()
    df.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z === refInterleave(a, b), s"interleave($a, $b)")
      // bijectivity: even/odd bit extraction recovers the inputs
      val backA = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).reduce(_ | _)
      val backB = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).reduce(_ | _)
      assert(backA === a && backB === b, s"decode($z)")
    }
    // locality: the top z-bits are exactly the quadrant id at every level
    // — ordering by z groups all points of a quadrant contiguously, the
    // property row-group pruning relies on
    pts.foreach { case (a, b) =>
      val z = refInterleave(a, b)
      (1 to 8).foreach { level =>
        val k = 16 - level
        assert(z >> (2 * k) === refInterleave(a >> k, b >> k),
          s"level-$level quadrant of ($a,$b)")
      }
    }
  }
}
