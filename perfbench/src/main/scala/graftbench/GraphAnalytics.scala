package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.api.EngineSession
import graft.graph.PropertyGraph
import graft.wcoj.WcojJoin

/** The paper's core: cyclic patterns through the worst-case-optimal LeapFrog
  * route on a skewed graph, one HyperCube-routed triangle, the triangle as a
  * `MATCH` statement through `EngineSession.sql` (the binary route), and
  * connected components. Pattern counts are checked against DuckDB
  * binary-join plans over the same edges; components against a union-find.
  */
final class GraphAnalytics(data: String) extends Workload {
  /** The cyclic patterns of the reference's subgraph workload, by name
    * (`workloads/graph_patterns.json`).
    */
  private val patterns = Json.read[Seq[Map[String, String]]](s"$data/patterns.json")
    .map(p => p("name") -> p("pattern"))

  private var edges: DataFrame = _
  private var graph: PropertyGraph = _

  def setup(session: EngineSession): Unit = {
    if (edges != null) edges.unpersist(true)
    edges = session.spark.read.parquet(s"$data/edges").persist(StorageLevel.MEMORY_ONLY)
    edges.count()
    graph = PropertyGraph.fromEdges(edges)
    session.createGraph("edge_graph", graph)
  }

  private def patternOp(name: String, pattern: String) =
    Op(name, "read", ctx => {
      val df = ctx.span("graph.pattern")(graph.pattern(pattern, wcoj = true))
      ctx.span("action")(df.count())
    }, Seq("graph.pattern"))

  private val ops: Seq[Op] =
    patterns.map { case (n, p) => patternOp(n, p) } ++ Seq(
      Op("hypercube_triangle", "read", ctx => {
        val rel = (a: String, b: String) => (edges.select(col("src").as(a), col("dst").as(b)), Seq(a, b))
        val df = ctx.span("wcoj.hypercube")(
          WcojJoin.leapfrogHyperCube(ctx.spark, Seq(rel("a", "b"), rel("b", "c"), rel("c", "a")),
            Seq("a", "b", "c")))
        ctx.span("action")(df.count())
      }, Seq("wcoj.hypercube")),
      Op("match_triangle", "read", ctx => {
        val df = ctx.span("api.sql")(ctx.session.sql(
          s"SELECT count(*) AS n FROM MATCH(edge_graph, ${patterns.toMap.apply("triangle")})"))
        ctx.span("action")(df.collect().head.getLong(0))
      }, Seq("graph.pattern")),
      Op("connected_components", "read", ctx => {
        val cc = ctx.span("graph.cc")(graph.connectedComponents())
        ctx.span("action")(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }, Seq("graph.cc")))

  def pass(p: Int): Seq[Op] = ops

  /** Pattern counts of DuckDB's binary-join plans over the same edges,
    * written beside the inputs by `benchlib/oracle.py`.
    */
  private val expectedCounts: Map[String, Long] =
    Json.read[Map[String, BigInt]](s"$data/expected_counts.json").map { case (k, v) => k -> v.toLong }

  private lazy val expectedComponents: Map[Long, Long] =
    GraphAnalytics.components(edges.collect().map(r => (r.getLong(0), r.getLong(1))))

  override def check(session: EngineSession, pass: Int, op: Op, result: Any): Option[String] =
    op.name match {
      case "connected_components" =>
        GraphAnalytics.componentsMatch(result.asInstanceOf[Map[Long, Long]], expectedComponents)
      case name => GraphAnalytics.countMatch(name, result.asInstanceOf[Long], expectedCounts)
    }

  override def teardown(): Unit = if (edges != null) edges.unpersist(true)
}

object GraphAnalytics {
  /** Each vertex's component label, the smallest vertex id in it, by
    * union-find over the edges taken as undirected.
    */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  def componentsMatch(got: Map[Long, Long], want: Map[Long, Long]): Option[String] =
    if (got == want) None
    else Some(s"${(got.keySet ++ want.keySet).count(v => got.get(v) != want.get(v))} " +
      s"vertices mislabelled of ${want.size}")

  /** A pattern op's count against DuckDB's count of its pattern; the
    * HyperCube and MATCH triangles (`*_triangle`) count the triangle.
    */
  def countMatch(op: String, got: Long, expected: Map[String, Long]): Option[String] =
    expected.get(if (op.endsWith("_triangle")) "triangle" else op) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"count $got, DuckDB gives $want")
      case None => Some(s"no expected count for $op")
    }
}
