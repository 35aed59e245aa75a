package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph capabilities: parity with the reference's adjacency-list-as-JSON
  * storage queried by point lookups (`kv/db_test.go:107-179`), extended to
  * real graph analytics on GraphX.
  *
  * The reference stores each user as a JSON value `{ID, Name, Follower[],
  * Following[]}` under its ID and traverses by Get + JSON decode per hop.
  * Here: `from_json` → explode → an edge DataFrame (one shuffle), then
  * either pure-SQL hop queries (broadcast-joinable at any scale) or a
  * GraphX `Graph` for iterative analytics.
  */
object GraphOps {

  /** Parse the reference's user-JSON adjacency values into an edge list
    * `(src, dst, kind)`. Input: (key string, json string).
    */
  def edgesFromAdjacencyJson(users: DataFrame, jsonCol: String = "json"): DataFrame = {
    val schema = "ID STRING, Name STRING, Follower ARRAY<STRING>, Following ARRAY<STRING>"
    val parsed = users.withColumn("u", from_json(col(jsonCol), org.apache.spark.sql.types.StructType.fromDDL(schema)))
    val follower = parsed.select(col("u.ID").as("src"),
      explode(col("u.Follower")).as("dst"), lit("follower").as("kind"))
    val following = parsed.select(col("u.ID").as("src"),
      explode(col("u.Following")).as("dst"), lit("following").as("kind"))
    follower.unionAll(following)
  }

  /** Build a GraphX graph from an edge DataFrame with long src/dst. */
  def toGraph(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): Graph[Long, Int] = {
    val edgeRdd = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0L)
  }

  /** Out/in degree per vertex as a DataFrame (pure SQL, no GraphX). */
  def degrees(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val out = edges.groupBy(col(srcCol).as("vertex")).agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col(dstCol).as("vertex")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("vertex"), "full_outer")
      .select(col("vertex"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** k-hop neighborhood by iterated self-join (k small); at scale each hop
    * is one shuffle join on the frontier, which stays tiny vs the edge set.
    */
  def kHop(edges: DataFrame, start: Long, k: Int,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    var frontier = e.sparkSession.range(start, start + 1).select(col("id").as("vertex"))
    var seen = frontier
    for (_ <- 1 to k) {
      frontier = e.join(broadcast(frontier), col("s") === col("vertex"))
        .select(col("d").as("vertex")).distinct()
        .join(seen, Seq("vertex"), "left_anti")
      seen = seen.unionAll(frontier).distinct()
    }
    seen
  }

  /** PageRank via GraphX (fixed iteration count → deterministic). */
  def pageRank(edges: DataFrame, iters: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraph(edges).staticPageRank(iters).vertices
      .map { case (id, rank) => (id, rank) }.toDF("vertex", "rank")
  }

  /** Multi-source BFS hop distances via GraphX Pregel: `dist` = the
    * minimum number of directed src->dst hops from ANY seed, for every
    * vertex reachable within `maxHops` (unreachable vertices drop out;
    * vertices exist iff they appear in some edge). Deterministic — min
    * is confluent, so message order never changes the fixpoint. Each
    * Pregel round is one frontier-sized shuffle, the same scale contract
    * as the other iterative analytics here.
    */
  def hopDistances(edges: DataFrame, seeds: Seq[Long], maxHops: Int = 10,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(seeds.nonEmpty, "hopDistances: at least one seed")
    require(maxHops >= 0, "hopDistances: maxHops must be non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    val clean = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
    val seedSet = seeds.toSet
    val init = toGraph(clean, srcCol, dstCol)
      .mapVertices((id, _) => if (seedSet(id)) 0L else Long.MaxValue)
    // Pregel rejects maxIterations == 0: zero hops = the seeds themselves
    if (maxHops == 0)
      return init.vertices.filter(_._2 == 0L)
        .map { case (id, d) => (id, d) }.toDF("vertex", "dist")
    val res = init.pregel(Long.MaxValue, maxIterations = maxHops)(
      (_, cur, msg) => math.min(cur, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 != Long.MaxValue)
      .map { case (id, d) => (id, d) }.toDF("vertex", "dist")
  }

  /** Hop-bounded WEIGHTED shortest paths from a seed set (bounded
    * Bellman-Ford via Pregel): `cost` = the minimum total edge weight
    * over any directed path of at most `maxHops` edges from some seed.
    * The hop bound makes the result well-defined and deterministic even
    * with cycles (min is confluent; each Pregel round relaxes one more
    * hop, exactly Bellman-Ford's invariant), and bounds the rounds the
    * same way [[hopDistances]] does — that operator is this one with
    * weight 1. Edges with NULL or negative weight are dropped (negative
    * cycles would make the unbounded problem undefined).
    */
  def boundedShortestPaths(edges: DataFrame, seeds: Seq[Long], maxHops: Int,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "w"): DataFrame = {
    require(seeds.nonEmpty, "boundedShortestPaths: at least one seed")
    require(maxHops >= 0, "boundedShortestPaths: maxHops must be non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    val clean = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
      col(weightCol).isNotNull && col(weightCol) >= 0)
    val edgeRdd = clean
      .select(col(srcCol).cast("long"), col(dstCol).cast("long"),
        col(weightCol).cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getLong(2)))
    val seedSet = seeds.toSet
    val init = Graph.fromEdges(edgeRdd, defaultValue = 0L)
      .mapVertices((id, _) => if (seedSet(id)) 0L else Long.MaxValue)
    def done(g: Graph[Long, Long]) = g.vertices.filter(_._2 != Long.MaxValue)
      .map { case (id, d) => (id, d) }.toDF("vertex", "cost")
    if (maxHops == 0) return done(init)
    val res = init.pregel(Long.MaxValue, maxIterations = maxHops)(
      (_, cur, msg) => math.min(cur, msg),
      t => if (t.srcAttr != Long.MaxValue && t.srcAttr + t.attr < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + t.attr)) else Iterator.empty,
      (a, b) => math.min(a, b))
    done(res)
  }

  /** k-CORE of the undirected simple graph: the maximal subgraph where
    * every vertex keeps degree >= k, found by the standard peel — drop
    * sub-k vertices, recompute degrees over the surviving subgraph,
    * repeat to fixpoint. Direction, multi-edges, and self-loops are
    * normalized away first (k-core is an undirected simple-graph
    * notion). Output: `(vertex, degree)` — the vertex's degree WITHIN
    * the core.
    *
    * The peel is confluent (removing a sub-k vertex can only lower
    * other degrees, so removal order never changes the fixpoint) —
    * deterministic under any partitioning. Each round is one GraphX
    * degree aggregation + subgraph filter over the SURVIVING edges
    * (shrinking every round), with the previous round's graph
    * unpersisted as soon as its successor materializes — the PageRank
    * iteration discipline. A graph that does not converge within
    * `maxIters` fails loudly rather than returning a non-fixpoint (the
    * worst case peels one vertex per round; real graphs converge in a
    * handful).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 50,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    require(maxIters >= 1, "kCore: maxIters must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()
    var g = Graph.fromEdges(
      und.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1)),
      defaultValue = 0L).cache()
    var n = g.vertices.count()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val deg = g.degrees
      val next = g.outerJoinVertices(deg)((_, _, d) => d.getOrElse(0).toLong)
        .subgraph(vpred = (_, d) => d >= k)
        .cache()
      val n2 = next.vertices.count()
      g.unpersist(blocking = false)
      g = next
      converged = n2 == n
      n = n2
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore: no fixpoint within $maxIters peel rounds ($n vertices live) — raise maxIters")
    // report the IN-CORE degree (the last subgraph's attrs are the
    // pre-peel degrees, so recompute over the surviving edge set)
    val coreDeg = g.degrees
    g.vertices.leftJoin(coreDeg)((_, _, d) => d.getOrElse(0).toLong)
      .map { case (id, d) => (id, d) }.toDF("vertex", "degree")
  }

  /** Connected components via GraphX; label = lowest vertex id in component. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    toGraph(edges).connectedComponents().vertices
      .map { case (id, cc) => (id, cc) }.toDF("vertex", "component")
  }

  /** Directed STRONGLY connected components via GraphX
    * `stronglyConnectedComponents`: label = lowest vertex id in the
    * vertex's SCC (every vertex trivially reaches itself, so singleton
    * vertices label themselves). Unlike [[connectedComponents]] the
    * edge DIRECTION is load-bearing — a→b alone does not merge a and
    * b; only mutual reachability does. NULL endpoints are dropped
    * (they cannot participate in a cycle); self-loops are harmless
    * (v is always in its own SCC).
    *
    * `maxIters` bounds the OUTER peel/color phases; GraphX resolves at
    * least one condensation-DAG layer per phase, so the bound needed
    * grows with the longest chain of SCCs, not the cycle length (the
    * inner Pregel color propagation runs to convergence each phase).
    * The default 50 covers any realistic event graph; a too-small
    * bound under-merges, which the oracle (mutual-reachability closure
    * in recursive SQL) would catch red.
    */
  def scc(edges: DataFrame, maxIters: Int = 50,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
    val edgeRdd = e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0L)
      .stronglyConnectedComponents(maxIters)
      .vertices.map { case (id, c) => (id, c) }.toDF("vertex", "component")
  }

  /** Synchronous label propagation (community detection) over the
    * undirected graph, a FIXED iteration count: every vertex starts as
    * its own label; each round adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label. GraphX's
    * `LabelPropagation` breaks ties by Map iteration order —
    * nondeterministic across runs — so this is dataframe algebra
    * instead (the [[triangleEdges]] choice): per round one keyed join +
    * two hash aggs, `max_by` over the (count, -label) pair as the
    * deterministic argmax. Every step replays in SQL, so the Catalog
    * row is FULLY oracled (unrolled iterations, the pageRank pattern).
    */
  def labelPropagation(
      edges: DataFrame,
      iters: Int = 3,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b"))).distinct()
    var labels = sym.select(col("a").as("vertex")).distinct()
      .withColumn("label", col("vertex"))
    for (_ <- 1 to iters) {
      labels = sym.join(labels, sym("b") === labels("vertex"))
        .groupBy(sym("a"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(max_by(col("label"), struct(col("c"), -col("label"))).as("label"))
        .select(col("a").as("vertex"), col("label"))
    }
    labels
  }

  /** HITS (Kleinberg hubs & authorities) over the directed graph, FIXED
    * iteration count — the classic mutual-reinforcement ranking (a good
    * hub points at good authorities; a good authority is pointed at by
    * good hubs), which PageRank's single score can't separate. The
    * Catalog row is FULLY oracled by unrolled iterations in SQL.
    *
    * A co-partitioned superstep loop, GraphX's layout (OSDI 2014): the
    * distinct non-null edges are built once as two adjacency RDDs —
    * out-neighbours keyed by `src`, in-neighbours keyed by `dst` —
    * persisted on one `HashPartitioner`, and the hub and authority
    * scores are keyed by that same partitioner. Each half-step is a
    * narrow join of an adjacency against the scores plus one
    * `reduceByKey` of the messages: the edges never move again, no step
    * is planned by Catalyst, and no step is checkpointed — up to 10
    * iterations' half-steps are stages of ONE job (the norm action; a
    * longer run adds one job per 10 iterations), and the scheduler skips
    * finished stages, so the growing lineage costs no recomputation.
    * Vertices with no in-edges (resp. out-edges) carry authority (resp.
    * hub) 0.
    *
    * The power steps run UNNORMALIZED with ONE L2 normalization at the
    * end: per-step and end normalization give exactly proportional
    * vectors (normalization is a scalar multiple, and every step is
    * linear). The price is dynamic range: raw scores grow like (average
    * degree)^2k, so past ~50 iterations on dense graphs the squared norm
    * overflows — the call then fails loudly, before any row is returned
    * (choose fewer iterations or rescale upstream; ranking use cases
    * converge in ~10).
    *
    * Exactness: raw scores are integer-valued doubles, but on any graph
    * with well-connected hubs they pass 2^53 within a few iterations
    * (the Catalog's event graph does by iteration 6), and from there a
    * sum rounds at the ulp level depending on its order, which depends
    * on the partitioning and on shuffle arrival. What holds is the
    * 6-decimal rounded output: after the final normalization that noise
    * is ~1e-16 relative, ten orders below the 6th decimal, so rounded
    * rows do not change with the input's partitioning.
    *
    * Partitioning: one partition per input split, and never fewer than
    * the default parallelism (one per core), so every superstep's tasks
    * fill one wave and a large edge set fans out with its input — no
    * size estimate that could collapse it to one partition.
    */
  def hits(edges: DataFrame, iters: Int = 10,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, "hits: iters must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val part = new HashPartitioner(
      math.max(pairs.getNumPartitions, spark.sparkContext.defaultParallelism))
    val out = pairs.groupByKey(part).mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val in = out.flatMap { case (s, ds) => ds.iterator.map(_ -> s) }
      .groupByKey(part).mapValues(_.toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def spread(adj: RDD[(Long, Array[Long])], score: RDD[(Long, Double)]) =
        adj.join(score, part)
          .flatMap { case (_, (ns, x)) => ns.iterator.map(_ -> x) }
          .reduceByKey(part, _ + _)
      var hub = out.mapValues(_ => 1.0)
      var auth: RDD[(Long, Double)] = null
      for (i <- 1 to iters) {
        auth = spread(out, hub)
        hub = spread(in, auth)
        // after each job Spark walks the job's not-yet-walked lineage
        // recursively (RDD.doCheckpoint), and a 120-iteration lineage
        // overflowed the stack: a longer run materializes every 10
        if (i % 10 == 0 && i < iters) hub.count()
      }
      val scores = hub.fullOuterJoin(auth, part)
        .mapValues { case (h, a) => (h.getOrElse(0.0), a.getOrElse(0.0)) }
      val (n, hubSq, authSq) = scores.aggregate((0L, 0.0, 0.0))(
        { case ((c, hs, as), (_, (h, a))) => (c + 1, hs + h * h, as + a * a) },
        { case ((c1, h1, a1), (c2, h2, a2)) => (c1 + c2, h1 + h2, a1 + a2) })
      val (hubNorm, authNorm) = (math.sqrt(hubSq), math.sqrt(authSq))
      for ((name, norm) <- Seq("hub" -> hubNorm, "auth" -> authNorm)
           if n > 0 && !(norm > 0 && norm < Double.PositiveInfinity))
        throw new IllegalStateException(s"hits: non-finite or zero $name norm after " +
          s"$iters iterations — reduce iters or rescale edge weights")
      // the rows re-read the last two half-steps' shuffle output, so the
      // adjacency caches can go before the caller collects
      scores.map { case (v, (h, a)) => (v, h / hubNorm, a / authNorm) }
        .toDF("vertex", "hub", "auth")
    } finally {
      out.unpersist(blocking = false)
      in.unpersist(blocking = false)
    }
  }

  /** Triangle count per vertex — pure SQL 3-way self-join on canonicalized
    * undirected edges (oracle-checkable), not GraphX's RDD implementation.
    */
  def triangleEdges(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"), col("e2.b") === col("e3.b") && col("e1.a") === col("e3.a"))
      .select(col("e1.a").as("v1"), col("e1.b").as("v2"), col("e2.b").as("v3"))
  }
}
