package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.api.EngineSession

/** The output checks of the listed workloads: each accepts the right result
  * and returns a reason for a wrong one, and a reason makes the op a failed
  * op (`Main.verdict`), which `fail_ratio` counts.
  *
  * {{{
  * cd perfbench && sbt test
  * }}}
  */
class ChecksSpec extends AnyFunSuite {
  private val counts = Map("triangle" -> 6L, "four_cycle" -> 9L)

  test("pattern counts: right counts pass, a wrong count fails") {
    assert(GraphAnalytics.countMatch("triangle", 6, counts).isEmpty)
    assert(GraphAnalytics.countMatch("four_cycle", 9, counts).isEmpty)
    assert(GraphAnalytics.countMatch("four_cycle", 8, counts).contains("count 8, DuckDB gives 9"))
  }

  test("the HyperCube and MATCH triangles are checked against the triangle count") {
    assert(GraphAnalytics.countMatch("hypercube_triangle", 6, counts).isEmpty)
    assert(GraphAnalytics.countMatch("match_triangle", 6, counts).isEmpty)
    assert(GraphAnalytics.countMatch("hypercube_triangle", 7, counts).nonEmpty)
    assert(GraphAnalytics.countMatch("match_triangle", 0, counts).nonEmpty)
    assert(GraphAnalytics.countMatch("house", 6, counts).contains("no expected count for house"))
  }

  test("components: union-find labels, and a mislabelled or missing vertex fails") {
    val want = GraphAnalytics.components(Seq(1L -> 2L, 3L -> 2L, 5L -> 4L, 7L -> 7L))
    assert(want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L))
    assert(GraphAnalytics.componentsMatch(want, want).isEmpty)
    assert(GraphAnalytics.componentsMatch(want.updated(5L, 1L), want)
      .contains("1 vertices mislabelled of 6"))
    assert(GraphAnalytics.componentsMatch(want - 7L, want).nonEmpty)
  }

  // two replicas of stride 100: fresh base ids 10..12, planted near-dups 13..16
  private def survivors(fresh: Seq[Long], dups: Seq[Long]) =
    CurationStore.survivorsMatch(for (r <- 0L to 1L; b <- fresh ++ dups) yield r * 100 + b,
      stride = 100, k = 2, fresh = 10, nFresh = 3, dup = 13, nDup = 4)

  test("near-dup survivors: fresh kept and near-dups dropped pass") {
    assert(survivors(Seq(10, 11, 12), Nil).isEmpty)
    assert(survivors(Seq(10, 11, 12), Seq(16)).isEmpty)
  }

  test("near-dup survivors: a dropped fresh document, a foreign id or kept near-dups fail") {
    assert(survivors(Seq(10, 12), Nil).contains("4 of 6 fresh documents kept"))
    assert(survivors(Seq(10, 11, 12, 42), Nil).contains("2 foreign ids"))
    assert(survivors(Seq(10, 11, 12), Seq(13, 14)).contains("only 0.50 of planted near-dups dropped"))
    assert(CurationStore.survivorsMatch(Seq(10L, 10L, 11L, 12L, 110L, 111L, 112L), 100, 2, 10, 3, 13, 4)
      .contains("1 ids kept twice"))
  }

  test("SimHash pairs: the brute-force pairs pass, a missing or extra pair fails") {
    val sigs = Seq(1L -> 0x0L, 2L -> 0x7L, 3L -> 0xfL, 4L -> 0xff00L)
    // Hamming distances: 1-2 three bits, 2-3 one bit, 1-3 four bits
    val want = Set(1L -> 2L, 2L -> 3L)
    assert(CurationStore.simHashMatch(want, sigs).isEmpty)
    assert(CurationStore.simHashMatch(want - (2L -> 3L), sigs).contains("1 pairs, brute force gives 2"))
    assert(CurationStore.simHashMatch(want + (1L -> 3L), sigs).nonEmpty)
  }

  test("IVF recall: the exact top-k reaches 1, unrelated hits fall below the floor") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 200L).map(i => i -> Array.fill(8)(rnd.nextGaussian().toFloat))
    val queries = (0L until 5L).map(q => q -> Array.fill(8)(rnd.nextGaussian().toFloat))
    val exact = queries.flatMap { case (q, qv) =>
      corpus.sortBy { case (id, v) => (-CurationStore.cosine(qv, v), id) }
        .take(CurationStore.TopK).map(h => q -> h._1)
    }
    assert(CurationStore.recall(corpus, queries, exact) == 1.0)
    val wrong = exact.map { case (q, id) => q -> (id + 1) % 200 }
    assert(CurationStore.recall(corpus, queries, wrong) < CurationStore.RecallFloor)
    assert(CurationStore.recall(corpus, queries, Nil) == 0.0)
  }

  test("upserted table: every id once at its last version, else it fails") {
    val versionOf = (id: Long) => id / 10
    val rows = Seq(1L -> 0, 2L -> 0, 11L -> 1, 12L -> 1)
    assert(CurationStore.upsertedMatch(rows, 4, versionOf).isEmpty)
    assert(CurationStore.upsertedMatch(rows :+ (2L -> 0), 5, versionOf).contains("1 duplicate keys"))
    assert(CurationStore.upsertedMatch(rows.init, 4, versionOf).contains("3 rows, 4 upserted"))
    assert(CurationStore.upsertedMatch(rows.updated(3, 12L -> 0), 4, versionOf)
      .contains("doc 12 at version 0"))
  }

  test("a failing or throwing check makes the op a failed op") {
    val wl = new Workload {
      def setup(session: EngineSession): Unit = ()
      def pass(p: Int): Seq[Op] = Nil
      override def check(session: EngineSession, pass: Int, op: Op, result: Any): Option[String] =
        op.name match {
          case "right" => None
          case "wrong" => GraphAnalytics.countMatch("triangle", result.asInstanceOf[Long], counts)
          case _ => throw new IllegalStateException("no output")
        }
    }
    val op = (name: String) => Op(name, "read", _ => ())
    assert(Main.verdict(wl, null, 0, op("right"), 6L) == "")
    assert(Main.verdict(wl, null, 0, op("wrong"), 5L) == "count 5, DuckDB gives 6")
    assert(Main.verdict(wl, null, 0, op("broken"), 0L) ==
      "check failed: IllegalStateException: no output")
  }
}
