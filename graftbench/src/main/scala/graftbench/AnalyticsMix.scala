package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** A fixed rotation of headline queries through `SparkEntry.queries`.
  * Each call collects the query's rows (at most 100) and checks their count
  * and hash against `expected/analytics_mix.json`; `graft.Bench` sinks to
  * `noop` instead, but collecting these small results costs little, lets
  * every call be checked, and makes the warm-up round run the same path
  * as the timed calls. The queries cover aggregation and joins, the
  * persisted agg view, the BM25 text index and one graph iteration.
  * `kv_engine_view` is left out, so `graft.core` does little work here.
  *
  * Setup copies the generated tables to a fresh directory and builds the
  * dataset's memoized text index (it builds when its query's DataFrame is
  * constructed).
  */
final class AnalyticsMix(spark: SparkSession, seed: Long, seconds: Int, data: String)
    extends Workload {
  import AnalyticsMix._

  private var dir: String = _
  private lazy val expected = Expected.load(expectedPath)
  private val observed = scala.collection.mutable.Map.empty[String, (Long, String)]

  def setup(d: String): Unit = {
    Files.copyTree(data, d)
    indexed.foreach(q => SparkEntry.queries(q)(spark, d))
    dir = d
  }

  /** One query, collected; right when its row count and hash are the
    * expected ones.
    */
  private def query(name: String): Op = Op(name, "query", () => {
    val got = digest(SparkEntry.queries(name)(spark, dir))
    observed(name) = got
    expected.get(name).contains(got)
  })

  /** Rounds of every query once, each round in a seeded order. */
  private def rounds(count: Int, salt: Long): Iterator[Op] = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    Iterator.range(0, count).flatMap { _ =>
      val order = new java.util.ArrayList[String]()
      queries.foreach(order.add)
      java.util.Collections.shuffle(order, rnd)
      (0 until order.size).iterator.map(i => query(order.get(i)))
    }
  }

  /** Two rounds on the same path as the timed calls. The first is the cold
    * run of every query (it also builds the agg view); after it alone, the
    * first timed round was still up to 20% slower than the second.
    */
  def warmOps(): Iterator[Op] = rounds(2, 1L)
  def timedOps(): Iterator[Op] = rounds(timedRounds(seconds), 2L)

  /** Every call is checked as it runs. */
  def finalChecks(): Seq[(String, Boolean)] = Nil

  def report(): Map[String, Any] = Map(
    "disk_bytes" -> Files.du(dir),
    "observed" -> observed.toMap.map { case (q, (n, h)) => q -> Map("rows" -> n, "hash" -> h) })
}

object AnalyticsMix {
  val queries: Seq[String] = Seq("q1_agg", "q5_region_revenue", "q_agg_view",
    "search_bm25_indexed", "graph_hits")
  /** The query whose DataFrame construction builds the text index. The agg
    * view of `q_agg_view` builds on that query's first call instead, in
    * the warm-up, which keeps the three setups inside a run's time budget.
    */
  val indexed: Seq[String] = Seq("search_bm25_indexed")
  /** Rounds for a run of about `seconds` (a round takes about 7.5 s): an
    * even number, so each half of the timed phase holds whole rounds.
    */
  def timedRounds(seconds: Int): Int = 2 * math.max(1, math.round(seconds / 15.0).toInt)

  /** Set by `run.py`: the expected row counts and hashes. */
  def expectedPath: String = sys.props.getOrElse("graftbench.expected", "expected/analytics_mix.json")

  /** (row count, order-insensitive hash): the SHA-256 of the sorted rows,
    * each rendered as its columns sorted by name, `\u001f`-joined.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(r => (0 until r.length).map(i => render(r.get(i))).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(0x1e.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Reads the expected-results file: `{"query": {"rows": n, "hash": "..."}}`. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val f = new java.io.File(path)
    if (!f.exists) return Map.empty
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val js = try parse(src.mkString) finally src.close()
    js match {
      case JObject(fields) => fields.collect {
        case (q, o: JObject) =>
          val rows = (o \ "rows") match { case JInt(n) => n.toLong; case _ => -1L }
          val hash = (o \ "hash") match { case JString(h) => h; case _ => "" }
          q -> (rows, hash)
      }.toMap
      case _ => Map.empty
    }
  }
}
