package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.api.EngineSession

/** Runs one workload in one process and writes what it observed as JSON:
  *
  * {{{
  * Main --workload <name> --data <inputs dir> --work <scratch dir> --out <json>
  *      --seconds <s> --trace <0|1> --cores <N>
  * }}}
  *
  * Set-up registers the inputs and builds any store; it is repeated
  * [[SetupReps]] times so its median can be reported, then one untimed
  * warm-up pass runs. The timed loop then runs whole passes of the op mix,
  * one op at a time, until `--seconds` have elapsed and at least
  * [[MinPasses]] passes are done, so every op has enough samples for a
  * median that one slow pass cannot set. With
  * `--trace 1` every other pass is traced, so the same run also measures
  * the tracing overhead. Output checks run after the loop. All metrics are
  * derived from the JSON by `benchlib/metrics.py`.
  */
object Main {
  val SetupReps = 3
  val WarmupPasses = 1
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt

    val session = EngineSession.local(cores)
    val sc = session.spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionUpUs = Clock.nowUs
    val wl = Workload(opts("workload"), opts("data"), opts("work"))
    val rec = new Recorder(session.spark)

    val setupS = (0 until SetupReps).map { _ =>
      val t0 = Clock.nowUs
      wl.setup(session)
      (Clock.nowUs - t0) / 1e6
    }
    val warmupStart = Clock.nowUs
    (0 until WarmupPasses).foreach(p => wl.pass(p).foreach(_.run(new Ctx(session, rec, -1))))
    val warmupS = (Clock.nowUs - warmupStart) / 1e6

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val results = ArrayBuffer.empty[(Int, Op, Any)]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val deadlineUs = Clock.nowUs + (seconds * 1e6).toLong
    var p = WarmupPasses
    while (Clock.nowUs < deadlineUs || passes.size < MinPasses) {
      val traced = trace && (p - WarmupPasses) % 2 == 0
      if (traced) rec.attach()
      val passStart = Clock.nowUs
      wl.pass(p).foreach { op =>
        val id = ops.size
        sc.setLocalProperty(Recorder.OpProperty, id.toString)
        val t0 = Clock.nowUs
        val outcome =
          try Right(op.run(new Ctx(session, rec, id)))
          catch { case e: Exception => Left(e) }
        val t1 = Clock.nowUs
        sc.setLocalProperty(Recorder.OpProperty, null)
        ops += Map("id" -> id, "pass" -> p, "name" -> op.name, "kind" -> op.kind,
          "tags" -> op.tags, "traced" -> traced, "start_us" -> t0, "end_us" -> t1,
          "rows" -> outcome.fold(_ => 0L, rowsOf),
          "error" -> outcome.fold(e => s"${e.getClass.getSimpleName}: ${e.getMessage}", _ => ""))
        outcome.foreach(r => results += ((id, op, r)))
      }
      passes += Map("pass" -> p, "traced" -> traced, "start_us" -> passStart, "end_us" -> Clock.nowUs)
      if (traced) rec.detach()
      p += 1
    }
    val hwmKb = vmHwmKb()
    val storeBytes = wl.storeBytes

    val checkStart = Clock.nowUs
    val checks = results.map { case (id, op, r) =>
      id -> verdict(wl, session, ops(id)("pass").asInstanceOf[Int], op, r)
    }.toMap
    val checkS = (Clock.nowUs - checkStart) / 1e6
    wl.teardown()

    Json.write(Map(
      "session_up_us" -> sessionUpUs, "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
      "check_s" -> checkS, "vm_hwm_kb" -> hwmKb, "store_bytes" -> storeBytes,
      "passes" -> passes,
      "ops" -> ops.map(o => o + ("check" -> checks.getOrElse(o("id").asInstanceOf[Int], ""))),
      "spans" -> rec.spans, "jobs" -> rec.jobs, "stages" -> rec.stages, "tasks" -> rec.tasks,
      "actions" -> rec.actions, "progress" -> rec.progress, "extras" -> wl.extras), opts("out"))
    session.spark.stop()
  }

  /** One op's check as the run records it: "" when the output is right,
    * else what is wrong, a check that throws included. A non-empty verdict
    * makes the op a failed op.
    */
  def verdict(wl: Workload, session: EngineSession, pass: Int, op: Op, result: Any): String =
    try wl.check(session, pass, op, result).getOrElse("")
    catch { case e: Exception => s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}" }

  private def rowsOf(r: Any): Long = r match {
    case n: Long => n
    case s: Iterable[_] => s.size.toLong
    case _ => 0L
  }

  /** The process's peak resident set (VmHWM), in KiB; 0 where /proc is absent. */
  private def vmHwmKb(): Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0L
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}
