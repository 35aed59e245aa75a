package graft.graph

import graft.core.{GraftDB, GraftOptions, TestSpark}
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity with the reference's only graph workload (`kv/db_test.go:107-179`
  * + `kv/user.json`): 100 users stored as JSON adjacency values under
  * user-ID keys, verified by field-exact round-trip and 1-hop queries —
  * then the analytics the reference README promises but never implements
  * (PageRank, connected components) on the same graph.
  */
class GraphOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // deterministic analog of the reference's generator (kv/db_test.go:114-143):
  // 100 users, <=10 followers/following drawn from 0..99
  private lazy val users: Seq[(String, String)] = {
    val rnd = new scala.util.Random(7)
    (0 until 100).map { i =>
      val fol = Seq.fill(rnd.nextInt(11))(rnd.nextInt(100).toString)
      val ing = Seq.fill(rnd.nextInt(11))(rnd.nextInt(100).toString)
      val json = s"""{"ID":"$i","Name":"user-$i","Follower":[${fol.map(f => s""""$f"""").mkString(",")}],"Following":[${ing.map(f => s""""$f"""").mkString(",")}]}"""
      (i.toString, json)
    }
  }

  test("field-exact JSON round-trip through the KV engine (kv/db_test.go:145-179)") {
    val db = new GraftDB(spark, java.nio.file.Files.createTempDirectory("graph-kv").toString,
      GraftOptions(valueThreshold = 64, compactTriggerFiles = 1000))
    db.batchSet(users.map { case (id, json) =>
      graft.core.KVEntry(id.getBytes("UTF-8"), json.getBytes("UTF-8"))
    })
    users.foreach { case (id, json) =>
      assert(db.get(id.getBytes("UTF-8")).map(new String(_, "UTF-8")).contains(json))
    }
  }

  test("1-hop follower lookup matches the stored adjacency") {
    import spark.implicits._
    val df = users.toDF("key", "json")
    val edges = GraphOps.edgesFromAdjacencyJson(df)
    val u42Followers = edges.filter($"src" === "42" && $"kind" === "follower")
      .select("dst").collect().map(_.getString(0)).sorted.toSeq
    val expected = {
      val json = users(42)._2
      val fol = """"Follower":\[([^\]]*)\]""".r.findFirstMatchIn(json).get.group(1)
      if (fol.isEmpty) Seq.empty else fol.split(",").map(_.replace("\"", "")).sorted.toSeq
    }
    assert(u42Followers == expected)
  }

  test("PageRank and connected components run on the user graph") {
    import spark.implicits._
    val edges = GraphOps.edgesFromAdjacencyJson(users.toDF("key", "json"))
      .select($"src".cast("long").as("src"), $"dst".cast("long").as("dst"))
    val pr = GraphOps.pageRank(edges, iters = 5).collect()
    assert(pr.length == pr.map(_.getLong(0)).distinct.length && pr.nonEmpty)
    assert(pr.map(_.getDouble(1)).forall(_ > 0))
    val cc = GraphOps.connectedComponents(edges).collect()
    assert(cc.nonEmpty && cc.map(_.getLong(1)).distinct.length >= 1)
  }

  test("labelPropagation: communities converge, ties deterministic, partition-invariant") {
    import spark.implicits._
    // two triangles bridged by one edge — hand-simulated under the
    // deterministic rule (most frequent neighbor label, ties -> smallest):
    // after 3 synchronous rounds the first triangle settles on 1 and the
    // second on 3 (the bridge leaks 3 across — classic LPA dynamics; the
    // point pinned here is the EXACT deterministic trajectory, which the
    // unrolled SQL oracle replays round for round)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iters = 3)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), s"got $got")
    // deterministic under partitioning and re-run
    val again = GraphOps.labelPropagation(edges.repartition(7), iters = 3)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(again == got)
    // a perfect tie (single edge, one round): both neighbors have one
    // vote each way; the SMALLEST label must win on both sides
    val tie = GraphOps.labelPropagation(Seq((5L, 9L)).toDF("src", "dst"), iters = 1)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(tie == Seq(5L -> 9L, 9L -> 5L),
      s"one round swaps the single edge's labels: $tie")
  }

  test("kHop frontier expansion is exact on a chain graph") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 1L)).toDF("src", "dst")
    val got = GraphOps.kHop(chain, start = 1L, k = 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // start + hop1 {2} + hop2 {3}
  }

  test("boundedShortestPaths equals sequential Bellman-Ford on random weighted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(250)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, (rnd.nextInt(9) + 1).toLong))
      .distinct
    val seeds = Seq(1L, 5L)
    for (maxHops <- Seq(0, 1, 4)) {
      val got = GraphOps.boundedShortestPaths(
          edges.toDF("src", "dst", "w"), seeds, maxHops)
        .as[(Long, Long)].collect().sorted.toSeq
      // sequential bounded Bellman-Ford: k relaxation rounds
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var dist = verts.map(v =>
        v -> (if (seeds.contains(v)) 0L else Long.MaxValue)).toMap
      for (_ <- 1 to maxHops) {
        val next = collection.mutable.Map(dist.toSeq: _*)
        for ((s, d, w) <- edges if dist(s) != Long.MaxValue)
          if (dist(s) + w < next(d)) next(d) = dist(s) + w
        dist = next.toMap
      }
      val want = dist.filter(_._2 != Long.MaxValue).toSeq.sorted
      assert(got == want, s"maxHops=$maxHops:\ngot:  $got\nwant: $want")
    }
  }

  test("hopDistances: multi-source BFS equals a sequential BFS on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .distinct
    val seeds = Seq(1L, 7L, 42L)
    for (maxHops <- Seq(0, 1, 3, 10)) {
      val got = GraphOps.hopDistances(edges.toDF("src", "dst"), seeds, maxHops)
        .as[(Long, Long)].collect().sorted.toSeq
      // sequential reference BFS over the same directed edges
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val dist = scala.collection.mutable.Map[Long, Long]()
      var frontier = seeds.filter(verts).distinct
      frontier.foreach(dist(_) = 0L)
      var d = 0L
      while (frontier.nonEmpty && d < maxHops) {
        d += 1
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      val want = dist.toSeq.sorted
      assert(got == want, s"maxHops=$maxHops:\ngot:  $got\nwant: $want")
    }
  }

  /** Sequential peel model over undirected simple edges. */
  private def kCoreModel(edges: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var changed = true
    while (changed) {
      val deg = und.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, os) => v -> os.size }
      val keep = deg.collect { case (v, d) if d >= k => v }.toSet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != und.size
      und = next
    }
    und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, os) => (v, os.size.toLong) }.toSeq.sorted
  }

  test("kCore: triangle survives at k=2, pendant peels; direction/dups normalized") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4; a duplicate and a reversed edge and
    // a self-loop must not inflate any degree
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 4L), (2L, 3L))
    val got = GraphOps.kCore(edges.toDF("src", "dst"), k = 2)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kCore equals the sequential peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 18
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.22
      } yield (a, b)).toSeq
      val k = 2 + rnd.nextInt(3)
      val got = GraphOps.kCore(edges.toDF("src", "dst").repartition(4), k)
        .orderBy("vertex").as[(Long, Long)].collect().toSeq
      val want = kCoreModel(edges, k)
      assert(got == want, s"trial $trial k=$k:\ngot:  $got\nwant: $want")
    }
  }

  test("kCore fails loudly when the peel cannot reach a fixpoint in maxIters") {
    import spark.implicits._
    // a path peels two endpoints per round: 30 vertices at k=2 need ~15
    // rounds to empty out, so maxIters=3 must raise, not return a lie
    val path = (1L until 30L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      GraphOps.kCore(path.toDF("src", "dst"), k = 2, maxIters = 3).count()
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  private def hitsModel(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] = {
    val e = edges.distinct
    val vs = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var h = vs.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      val araw = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(p => h(p._1)).sum }
      val an = math.sqrt(araw.values.map(x => x * x).sum)
      a = vs.map(v => v -> araw.getOrElse(v, 0.0) / an).toMap
      val hraw = e.groupBy(_._1).map { case (s, es) =>
        s -> es.map(p => a(p._2)).sum }
      val hn = math.sqrt(hraw.values.map(x => x * x).sum)
      h = vs.map(v => v -> hraw.getOrElse(v, 0.0) / hn).toMap
    }
    vs.map(v => v -> ((h(v), a(v)))).toMap
  }

  test("hits equals the sequential mutual-reinforcement model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = (1 to 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)).distinct
    val got = GraphOps.hits(edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val want = hitsModel(edges, 10)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, (hub, auth)) =>
      assert(math.abs(hub - want(v)._1) < 1e-9, s"hub diverged at $v")
      assert(math.abs(auth - want(v)._2) < 1e-9, s"auth diverged at $v")
    }
  }

  test("hits separates hubs from authorities on the canonical star") {
    import spark.implicits._
    // 1 and 2 point at 3 and 4; 3 also points at 4
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = GraphOps.hits(edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // pure sources are the best hubs and zero authorities
    assert(got(1L)._1 == got(2L)._1 && got(1L)._1 > got(3L)._1)
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 0.0)
    // the pure sink is the best authority and a zero hub
    assert(got(4L)._2 > got(3L)._2 && got(4L)._1 == 0.0)
  }

  /** `hits` over `input` equals [[hitsModel]] over `clean` to 1e-9. */
  private def assertHitsModel(input: DataFrame, clean: Seq[(Long, Long)], iters: Int): Unit = {
    val got = GraphOps.hits(input, iters).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val want = hitsModel(clean, iters)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, (hub, auth)) =>
      assert(math.abs(hub - want(v)._1) < 1e-9 && math.abs(auth - want(v)._2) < 1e-9,
        s"scores diverged at $v")
    }
  }

  private def completeDigraph(n: Long): Seq[(Long, Long)] =
    for (i <- 0L until n; j <- 0L until n if i != j) yield (i, j)

  test("hits: rounded rows do not change with the input's partitioning past 2^53") {
    import spark.implicits._
    // the Catalog's event-graph shape: 20 sources x 100 sinks, 2 000 draws
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(2000)((100L + rnd.nextInt(20), rnd.nextInt(100).toLong))
    // the unnormalized scores leave the exact-integer range of doubles, so
    // sums round differently under different summation orders
    val e = edges.distinct
    var h = e.map(_._1 -> 1.0).toMap
    for (_ <- 1 to 10) {
      val a = e.groupMapReduce(_._2)(p => h(p._1))(_ + _)
      h = e.groupMapReduce(_._1)(p => a(p._2))(_ + _)
    }
    assert(h.values.max > math.pow(2, 53))
    def rounded(parts: Int) = GraphOps.hits(edges.toDF("src", "dst").repartition(parts), 10)
      .select(col("vertex"), round(col("hub"), 6), round(col("auth"), 6))
      .orderBy("vertex").collect().toSeq
    val one = rounded(1)
    assert(one.size == e.flatMap(p => Seq(p._1, p._2)).distinct.size)
    assert(rounded(7) == one)
  }

  test("hits fails loudly on a non-finite norm, returning no NaN or Infinity rows") {
    import spark.implicits._
    // raw scores grow ~39^2 per iteration: the squared norm overflows
    val e = intercept[IllegalStateException](
      GraphOps.hits(completeDigraph(40).toDF("src", "dst"), iters = 120).collect())
    assert(e.getMessage.contains("non-finite"))
  }

  test("hits: an empty edge set returns zero rows") {
    import spark.implicits._
    assert(GraphOps.hits(Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("hits drops null endpoints and duplicate edges") {
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)),
      (Some(2L), Some(3L)), (Some(3L), Some(1L)), (Some(3L), Some(1L)), (None, None))
    assertHitsModel(edges.toDF("src", "dst"), Seq((1L, 2L), (2L, 3L), (3L, 1L)), 10)
  }

  test("hits counts a self-loop once") {
    import spark.implicits._
    val edges = Seq((1L, 1L), (1L, 1L), (1L, 1L), (1L, 2L), (2L, 3L))
    assertHitsModel(edges.toDF("src", "dst"), edges.distinct, 10)
  }

  test("hits unpersists what it persists, on success and on the guard's failure") {
    import spark.implicits._
    def held = (spark.sparkContext.getPersistentRDDs.size, CacheEntries(spark))
    def noMoreThan(before: (Int, Int)) =
      assert(held._1 <= before._1 && held._2 <= before._2, s"$before -> $held")
    val before = held
    assert(GraphOps.hits(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).collect().length == 3)
    noMoreThan(before)
    intercept[IllegalStateException](
      GraphOps.hits(completeDigraph(40).toDF("src", "dst"), iters = 60))
    noMoreThan(before)
  }

  test("scc: direction splits what cc merges; two cycles bridged one-way stay apart") {
    import spark.implicits._
    // cycle {1,2,3} → bridge → cycle {10,11}, plus a dangling chain
    // 20→21→22: mutual reachability holds only inside each cycle, so
    // the one-way bridge must NOT merge them (cc would), and every
    // chain vertex is its own singleton SCC
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 10L),
      (10L, 11L), (11L, 10L),
      (20L, 21L), (21L, 22L)).toDF("src", "dst")
    val got = GraphOps.scc(edges)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 21L, 22L -> 22L), s"got $got")
    // sanity: undirected cc DOES merge everything reachable
    val cc = GraphOps.connectedComponents(edges)
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(cc.take(5).forall(_._2 == 1L), s"cc should merge across the bridge: $cc")
    // partition invariance: the label is a graph property, not a
    // partitioning artifact
    val again = GraphOps.scc(edges.repartition(7))
      .orderBy("vertex").as[(Long, Long)].collect().toSeq
    assert(again == got)
  }
}
