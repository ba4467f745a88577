package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{CountMinSketch, GraftFunctions}
import graft.operators.{Bfs, CheapestPath, Fuzzy, PageRank, PrefixSum, Sampling, WidestPath}

/** Randomized property checks over the deterministic operator kernels —
  * the guarantees hold for EVERY input, so they are checked against
  * generated inputs, not fixtures. ScalaCheck drives generation/shrinking;
  * success counts stay small because each case runs real Spark jobs. */
class PropertySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def check(name: String, prop: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, s"$name failed: ${res.status}")
  }

  // ---------------------------------------------------------------- fuzzy

  private val genStrings: Gen[List[String]] =
    Gen.choose(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString))))
      .map(_.distinct)

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("Fuzzy: deletion-neighborhood pairs equal brute-force levenshtein<=1 on any string set") {
    check("fuzzy", Prop.forAll(genStrings) { ss =>
      val nonEmpty = ss.filter(_.nonEmpty) // engine operates on distinct non-empty strings
      val got = Fuzzy.editDistance1Pairs(nonEmpty.toDF("str"), "str")
        .as[(String, String)].collect().toSet
      val want = (for { a <- nonEmpty; b <- nonEmpty if a < b && lev(a, b) <= 1 }
        yield (a, b)).toSet
      got == want
    })
  }

  // ----------------------------------------------------------- misra-gries

  private val genStream: Gen[List[String]] =
    Gen.choose(5, 40).flatMap(vocab =>
      Gen.listOfN(vocab, Gen.choose(1, 60)).map(_.zipWithIndex.flatMap {
        case (cnt, i) => List.fill(cnt)(s"w$i")
      }))

  test("MisraGries: every item above N/(k+1) survives any stream and partitioning") {
    check("mg", Prop.forAll(genStream, Gen.choose(1, 9)) { (items, parts) =>
      val k = 7
      val df = items.toDF("item").repartition(parts)
      val cands = df.agg(GraftFunctions.misraGries($"item", k))
        .first().getSeq[String](0).toSet
      val n = items.size
      val exact = items.groupBy(identity).view.mapValues(_.size)
      val mustKeep = exact.collect { case (w, c) if c * (k + 1) > n => w }.toSet
      cands.size <= k && mustKeep.subsetOf(cands)
    })
  }

  test("CountMin: estimates never undercount, on any stream and partitioning") {
    check("cms", Prop.forAll(genStream, Gen.choose(1, 9)) { (items, parts) =>
      val (d, w) = (3, 16)
      val sk = items.toDF("item").repartition(parts)
        .agg(GraftFunctions.countMin($"item", d, w)).first().getSeq[Long](0)
      items.distinct.forall { item =>
        val est = (0 until d).map(r => sk(r * w + CountMinSketch.bucket(r, item, w))).min
        est >= items.count(_ == item)
      }
    })
  }

  // ------------------------------------------------------------ prefix sum

  test("PrefixSum: sharded running sum equals the naive per-group scan, any data") {
    val genRows: Gen[List[(String, Long, Long)]] =
      Gen.choose(1, 30).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.oneOf("g1", "g2", "g3"),
          Gen.choose(0L, 5000L), Gen.choose(0L, 9L))))
        .map(_.groupBy(r => (r._1, r._2)).map(_._2.head).toList) // unique order keys
    check("prefixsum", Prop.forAll(genRows, Gen.oneOf(64L, 512L, 0L)) { (rows, width) =>
      val df = rows.toDF("g", "ord", "v").repartition(5)
      val got = PrefixSum.inclusive(df, Seq("g"), "ord", "v", "ps", shardWidth = width)
        .select("g", "ord", "ps").as[(String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val sorted = rs.sortBy(_._2)
        sorted.zip(sorted.scanLeft(0L)(_ + _._3).tail).map { case (r, s) => (g, r._2) -> s }
      }
      got == want
    }, n = 6)
  }

  // -------------------------------------------------------------- pagerank

  test("PageRank: bit-deterministic under repartitioning and mass-bounded, any digraph") {
    val genGraph: Gen[List[(Long, Long, Long)]] =
      Gen.choose(1, 25).flatMap(m =>
        Gen.listOfN(m, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L), Gen.choose(1L, 5L))))
        .map(_.groupBy(e => (e._1, e._2)).map(_._2.head).toList)
    check("pagerank", Prop.forAll(genGraph) { edges =>
      val nodes = (0L until 10L).toDF("node")
      val e = edges.toDF("src", "dst", "w")
      val a = PageRank.ranks(spark, nodes, e, iters = 2)
        .as[(Long, Long)].collect().toMap
      val b = PageRank.ranks(spark, nodes.repartition(3), e.repartition(4), iters = 2)
        .as[(Long, Long)].collect().toMap
      val total = a.values.sum
      a == b && total <= PageRank.RankScale && a.values.forall(_ >= 0L)
    }, n = 6)
  }

  // ------------------------------------------------------ bfs / widest path

  private val genSeededGraph: Gen[(List[(Long, Long)], List[Long], Int)] = for {
    m <- Gen.choose(1, 18)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L)))
    seeds <- Gen.nonEmptyListOf(Gen.choose(0L, 8L)).map(_.distinct)
    hops <- Gen.choose(1, 4)
  } yield (es, seeds, hops)

  test("Bfs: frontier expansion equals naive BFS on any multigraph and seed set") {
    check("bfs", Prop.forAll(genSeededGraph) { case (es, seeds, hops) =>
      val got = Bfs.hopDistances(es.toDF("a", "b"), "a", "b",
        seeds.toDF("node"), "node", hops).as[(Long, Long)].collect().toMap
      // naive: layer-by-layer BFS over the deduped undirected simple graph
      val und = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds.toSet
      for (r <- 1 to hops) {
        val next = frontier.flatMap(u => nbrs.getOrElse(u, Set.empty[Long])) -- dist.keySet
        next.foreach(v => dist += v -> r.toLong)
        frontier = next
      }
      got == dist
    }, n = 6)
  }

  private val genSeededWeighted: Gen[(List[(Long, Long, Long)], List[Long], Int)] = for {
    m <- Gen.choose(1, 18)
    es <- Gen.listOfN(m,
      Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L), Gen.choose(1L, 20L)))
    seeds <- Gen.nonEmptyListOf(Gen.choose(0L, 8L)).map(_.distinct)
    rounds <- Gen.choose(1, 4)
  } yield (es, seeds, rounds)

  test("WidestPath: (max,min)-semiring relaxation equals the naive synchronous evaluator") {
    check("widest", Prop.forAll(genSeededWeighted) { case (es, seeds, rounds) =>
      val got = WidestPath.capacities(es.toDF("a", "b", "w"), "a", "b", "w",
        seeds.toDF("node"), "node", rounds).as[(Long, Long)].collect().toMap
      // naive synchronous Bellman-Ford over (max, min): parallel edges keep
      // max weight, self-loops dropped — the operator's documented contract
      val und = es.collect { case (a, b, w) if a != b =>
        ((math.min(a, b), math.max(a, b)), w) }
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val adj = und.toSeq.flatMap { case ((a, b), w) => Seq((a, b, w), (b, a, w)) }
      var cap = seeds.map(_ -> WidestPath.CapInf).toMap
      for (_ <- 1 to rounds) {
        val relaxed = adj.flatMap { case (u, v, w) =>
          cap.get(u).map(c => v -> math.min(c, w)) }
        cap = (cap.toSeq ++ relaxed).groupBy(_._1)
          .view.mapValues(_.map(_._2).max).toMap
      }
      got == cap
    }, n = 6)
  }

  test("CheapestPath: (min,+)-semiring relaxation equals the naive synchronous evaluator") {
    check("cheapest", Prop.forAll(genSeededWeighted) { case (es, seeds, rounds) =>
      val got = CheapestPath.distances(es.toDF("a", "b", "w"), "a", "b", "w",
        seeds.toDF("node"), "node", rounds).as[(Long, Long)].collect().toMap
      // naive synchronous Bellman-Ford over (min, +): parallel edges keep
      // min cost, self-loops dropped — the operator's documented contract
      val und = es.collect { case (a, b, w) if a != b =>
        ((math.min(a, b), math.max(a, b)), w) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val adj = und.toSeq.flatMap { case ((a, b), w) => Seq((a, b, w), (b, a, w)) }
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relaxed = adj.flatMap { case (u, v, w) =>
          dist.get(u).map(d => v -> (d + w)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      got == dist
    }, n = 6)
  }

  // ------------------------------------------------- connected components

  test("star-contraction components equal min-label propagation on any graph") {
    val genPairs: Gen[List[(Long, Long)]] =
      Gen.choose(0, 20).flatMap(m =>
        Gen.listOfN(m, Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L))))
        .map(_.filter(p => p._1 != p._2).distinct)
    check("cc", Prop.forAll(genPairs) { ps =>
      val nodes = (0L until 15L).toDF("doc_id")
      val pairs = ps.toDF("id_a", "id_b")
      val a = graft.operators.Dedup.connectedComponents(nodes, pairs, "doc_id")
        .as[(Long, Long)].collect().toMap
      val b = graft.operators.Dedup.connectedComponentsContracted(nodes, pairs, "doc_id")
        .as[(Long, Long)].collect().toMap
      a == b
    }, n = 6)
  }

  // -------------------------------------------------------------- triangles

  test("Triangles: degree-oriented counts equal naive subset enumeration on any graph") {
    val genEdges: Gen[List[(Long, Long)]] =
      Gen.choose(0, 30).flatMap(m =>
        Gen.listOfN(m, Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))))
    check("triangles", Prop.forAll(genEdges) { es =>
      val got = graft.operators.Triangles.perNodeCounts(es.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val adj = es.filter(e => e._1 != e._2)
        .flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (k, vs) => (k, vs.map(_._2).toSet) }.withDefaultValue(Set.empty[Long])
      val nodes = adj.keys.toList.sorted
      val tris = for {
        x <- nodes; y <- nodes if y > x && adj(x)(y)
        z <- nodes if z > y && adj(x)(z) && adj(y)(z)
      } yield (x, y, z)
      val want = tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (k, vs) => (k, vs.size.toLong) }
      got == want
    }, n = 6)
  }

  // --------------------------------------------------------------- temporal

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  test("AsofJoin: matches the naive latest-preceding-right scan on any event layout") {
    val genEvents: Gen[(List[(String, Long, Long)], List[(String, Long, Long, Long)])] =
      for {
        nl <- Gen.choose(1, 25)
        nr <- Gen.choose(0, 25)
        l <- Gen.listOfN(nl, Gen.zip(Gen.oneOf("k1", "k2"), Gen.choose(0L, 50L), Gen.choose(0L, 999L)))
        r <- Gen.listOfN(nr, Gen.zip(Gen.oneOf("k1", "k2"), Gen.choose(0L, 50L),
          Gen.choose(0L, 99L), Gen.choose(0L, 999L)))
      } yield (l.zipWithIndex.map { case ((k, t, v), i) => (k, t * 1000000L, i.toLong) },
        r.map { case (k, t, id, v) => (k, t * 1000000L, id, v) })
    check("asof", Prop.forAll(genEvents) { case (lrows, rrows) =>
      val left = lrows.map { case (k, t, id) => (k, ts(t), id) }.toDF("k", "lts", "lid")
      val right = rrows.map { case (k, t, id, v) => (k, ts(t), id, v) }.toDF("k", "rts", "rid", "rv")
      val got = graft.operators.AsofJoin.asof(left, right, Seq("k"), "lts", "rts", "rid", Seq("rv"))
        .select($"lid", $"asof_rv").as[(Long, Option[Long])].collect().toMap
      // naive: per left row, latest right at rts <= lts; ties on rts -> min rid
      val want = lrows.map { case (k, t, id) =>
        val prec = rrows.filter(r => r._1 == k && r._2 <= t)
        id -> (if (prec.isEmpty) None else {
          val maxTs = prec.map(_._2).max
          Some(prec.filter(_._2 == maxTs).minBy(_._3)._4)
        })
      }.toMap
      got == want
    }, n = 6)
  }

  test("RangeJoin: matches the naive containment filter on any intervals") {
    val genData: Gen[(List[(String, Long, Long)], List[(String, Long, Long, Long)])] =
      for {
        np <- Gen.choose(1, 20)
        ni <- Gen.choose(0, 10)
        p <- Gen.listOfN(np, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 100L), Gen.choose(0L, 999L)))
        i <- Gen.listOfN(ni, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 100L),
          Gen.choose(0L, 30L), Gen.choose(0L, 999L)))
      } yield (p.zipWithIndex.map { case ((k, t, _), idx) => (k, t * 60000000L, idx.toLong) },
        i.zipWithIndex.map { case ((k, s, len, _), idx) => (k, s * 60000000L, (s + len) * 60000000L, idx.toLong) })
    check("range", Prop.forAll(genData) { case (prows, irows) =>
      val points = prows.map { case (k, t, id) => (k, ts(t), id) }.toDF("k", "pts", "pid")
      val ivals = irows.map { case (k, s, e, id) => (k, ts(s), ts(e), id) }
        .toDF("k", "istart", "iend", "iid")
      val got = graft.operators.RangeJoin.containsJoin(points, ivals, Seq("k"),
        "pts", "istart", "iend")
        .select($"pid", $"iid").as[(Long, Long)].collect().toSet
      val want = (for {
        (pk, pt, pid) <- prows
        (ik, is, ie, iid) <- irows
        if pk == ik && pt >= is && pt <= ie
      } yield (pid, iid)).toSet
      got == want
    }, n = 6)
  }

  test("Sessionize: matches the naive gap-scan on any event stream") {
    val genEv: Gen[List[(Long, Long, Long)]] =
      Gen.choose(1, 30).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 200L))))
        .map(_.zipWithIndex.map { case ((u, mins), i) => (i.toLong, u, mins * 60000000L) })
    check("sessionize", Prop.forAll(genEv) { evs =>
      val df = evs.map { case (id, u, t) => (id, u, ts(t)) }.toDF("event_id", "user_id", "ts")
      val got = graft.operators.Sessionize
        .assignSessions(df, Seq("user_id"), "ts", "event_id")
        .select($"event_id", $"session_idx").as[(Long, Long)].collect().toMap
      val gap = 1800000000L // 30 min, the operator default
      val want = evs.groupBy(_._2).flatMap { case (_, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._1))
        var idx = 0L
        var prev = Long.MinValue
        sorted.map { case (id, _, t) =>
          if (prev == Long.MinValue || t - prev > gap) idx += 1
          prev = t
          id -> idx
        }
      }
      got == want
    }, n = 6)
  }

  // ---------------------------------------------------------------- ppjoin

  /** Random small corpora of shingle SETS over a 12-token vocabulary —
    * dense enough that prefixes genuinely cut (shared hot shingles, sets
    * of mixed size), small enough that the quadratic scan is instant. */
  private val genShingleSets: Gen[List[(Long, Set[String])]] =
    Gen.choose(2, 14).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 8).flatMap(sz =>
        Gen.listOfN(sz, Gen.oneOf((0 until 12).map(i => s"sh$i"))).map(_.toSet))))
      .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })

  private val genThreshold: Gen[(Int, Int)] =
    Gen.oneOf((1, 2), (4, 5), (7, 10), (1, 1))

  test("PPJoin: prefix-filtered exact Jaccard equals the all-pairs quadratic scan, any sets") {
    // the EXECUTABLE form of the prefix-filter recall proof documented on
    // jaccardPairsExactOnSets: under any global total order, two sets with
    // J >= t share an element inside both prefixes, so the indexed join
    // loses nothing vs brute force — for every corpus and threshold
    check("ppjoin", Prop.forAll(genShingleSets, genThreshold) { case (sets, (num, den)) =>
      val df = sets.map { case (id, s) => (id, s.toSeq.sorted) }.toDF("doc_id", "shingles")
      val got = graft.operators.Dedup.jaccardPairsExactOnSets(df, num, den)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        if sa.intersect(sb).size.toLong * den >= sa.union(sb).size.toLong * num
      } yield (ia, ib)).toSet
      got == want
    }, n = 6)
  }

  test("containment: asymmetric prefix filter equals the quadratic scan, any sets") {
    check("containment", Prop.forAll(genShingleSets, genThreshold) { case (sets, (num, den)) =>
      val df = sets.map { case (id, s) => (id, s.toSeq.sorted) }.toDF("doc_id", "shingles")
      val got = graft.operators.Dedup.containmentPairsExact(df, num, den)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia != ib
        if sa.intersect(sb).size.toLong * den >= sa.size.toLong * num
      } yield (ia, ib)).toSet
      got == want
    }, n = 6)
  }

  // ---------------------------------------------------- Hamming band join

  test("Hamming band join: self form equals brute force at Hamming <= 3, batch form on (x, x) equals it") {
    import graft.operators.Dedup
    // every layout the join serves: SimHash (4 x 15-bit bands of a 60-bit
    // signature), image/audio (4 x 16 bits of 64, a carried verify
    // vector), video (4 x 16 bits, the slot t as an extra key)
    case class Layout(width: Int, keys: Seq[String], carry: Seq[String])
    val layouts = Seq(Layout(15, Nil, Nil), Layout(16, Nil, Seq("vec")), Layout(16, Seq("t"), Nil))
    for (layout <- layouts; seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val bits = 4 * layout.width
      val mask = if (bits == 64) -1L else (1L << bits) - 1
      def flip(sig: Long, positions: Seq[Int]): Long = positions.foldLeft(sig)((s, b) => s ^ (1L << b))
      // planted pairs at Hamming 0-4, plus band-confined edits at 5-8
      // (they share 3 of 4 bands, so the cut, not the banding, rejects them)
      val sigs = (0 until 12).flatMap { _ =>
        val base = rnd.nextLong() & mask
        val near = (0 to 4).map(d => flip(base, rnd.shuffle((0 until bits).toList).take(d)))
        val band = rnd.nextInt(4) * layout.width
        val far = (5 to 8).map(d =>
          flip(base, rnd.shuffle((band until band + layout.width).toList).take(d)))
        (base +: near) ++ far
      } ++ Seq.fill(20)(rnd.nextLong() & mask)
      val rows = sigs.zipWithIndex.map { case (sig, i) => (i.toLong, rnd.nextInt(2), sig) }
      val df = rows.toDF("id", "t", "sig").withColumn("vec", col("id") * 7)
      val bands = Dedup.hammingBands(df, layout.width, layout.keys, layout.carry)
      val keyed = layout.keys.nonEmpty
      val want = (for {
        (ia, ta, sa) <- rows; (ib, tb, sb) <- rows
        if ia < ib && (!keyed || ta == tb) && java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (ia, ib, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
      val self = Dedup.hammingWithin(Dedup.hammingPairs(bands, None, layout.keys, layout.carry), 3)
      val got = self.select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
      assert(want.exists(_._3 == 3L), s"layout $layout seed $seed planted no Hamming-3 pair")
      assert(got == want, s"self form, layout $layout seed $seed")
      if (layout.carry.nonEmpty)
        assert(self.filter(col("vec_a") =!= col("id_a") * 7 || col("vec_b") =!= col("id_b") * 7)
          .isEmpty, s"carried columns, layout $layout seed $seed")
      val batch = Dedup.hammingWithin(
        Dedup.hammingPairs(bands, Some(bands), layout.keys, layout.carry), 3)
        .filter(col("new_id") < col("hist_id"))
        .select("new_id", "hist_id", "hamming").as[(Long, Long, Long)].collect().toSet
      assert(batch == got, s"batch form on (x, x), layout $layout seed $seed")
    }
  }

  // ------------------------------------------------------------- dup spans

  /** Random tiny corpora over a 3-word vocabulary — repeats are near
    * certain, so island merging, within-doc duplicates, and cross-doc
    * hits all occur. */
  private val genCorpus: Gen[List[(Long, String)]] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" ")))))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  test("duplicateSpans equals the naive corpus-wide gram scan, any corpus") {
    // naive reference: mark position i of doc d duplicated iff the
    // k-gram starting there occurs >= 2 times across ALL (doc, pos),
    // then merge maximal runs of covered token positions
    check("dupspans", Prop.forAll(genCorpus, Gen.oneOf(2, 3)) { (docs, k) =>
      val toks = docs.map { case (id, t) => (id, t.toLowerCase.split(" ", -1).toSeq) }
      val grams = for { (id, w) <- toks; i <- 1 to w.size - k + 1 }
        yield (id, i, w.slice(i - 1, i - 1 + k).mkString(" "))
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val want = (for ((id, w) <- toks) yield {
        val covered = (for {
          (d, i, g) <- grams if d == id && counts(g) >= 2
          p <- i until i + k } yield p).toSet
        // maximal runs of covered positions
        val runs = covered.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        runs.map { case (s, e) => (id, s, e, e - s + 1) }
      }).flatten.toSet
      val got = graft.operators.Dedup.duplicateSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
          r.getAs[Int]("span_end"), r.getAs[Int]("span_tokens"))).toSet
      got == want
    }, n = 8)
  }

  // -------------------------------------------------------------- sampling

  test("Sampling: threshold60 brackets the rate exactly at the integer boundary") {
    check("threshold", Prop.forAll(Gen.choose(0.0, 1.0)) { rate =>
      val t = Sampling.threshold60(rate)
      t >= 0L && t <= Sampling.HashSpace60 &&
        math.abs(t.toDouble / Sampling.HashSpace60.toDouble - rate) < 1e-9
    }, n = 30)
  }
}
