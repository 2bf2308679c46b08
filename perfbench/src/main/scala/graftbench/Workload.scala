package graftbench

import org.apache.spark.sql.SparkSession

import graft.api.EngineSession

/** One operation of a workload's mix. `run` is the timed call into graft and
  * returns what the output check needs; `kind` is "read" or "write"; `tags`
  * name the layers the op exercises beyond the spans it opens itself.
  */
final case class Op(name: String, kind: String, run: Ctx => Any, tags: Seq[String] = Nil)

/** What an op sees while it runs: the session and the tracer. */
final class Ctx(val session: EngineSession, val rec: Recorder, val opId: Int) {
  def spark: SparkSession = session.spark
  def span[T](name: String)(body: => T): T = rec.span(opId, name)(body)
}

/** A workload: inputs registered by `setup`, a fixed op mix per pass, and an
  * output check that runs after the timed loop.
  */
trait Workload {
  /** Register the generated inputs (and build any store) from scratch. */
  def setup(session: EngineSession): Unit

  /** The ops of pass `p`; passes are numbered from 0 within one set-up. */
  def pass(p: Int): Seq[Op]

  /** Check one op's result: None when it is correct, else what is wrong. */
  def check(session: EngineSession, pass: Int, op: Op, result: Any): Option[String] = None

  /** Bytes on disk under the workload's store and index (0 without one). */
  def storeBytes: Long = 0L

  /** Workload-specific observations for the metrics (e.g. IVF recall). */
  def extras: Map[String, Any] = Map.empty

  /** Stop what `setup` started. */
  def teardown(): Unit = ()
}

object Workload {
  /** `data` holds the generated inputs; `work` is scratch space. */
  def apply(name: String, data: String, work: String): Workload = name match {
    case "graph_analytics" => new GraphAnalytics(data)
    case "curation_store" => new CurationStore(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
}
