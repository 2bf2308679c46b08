package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.EngineSession
import graft.operators.{Dedup, Layout, Similarity}
import graft.streaming.DocStreams

/** A curation store under mixed writes and reads. Each pass ingests a fresh
  * chunk through the streaming ingest-dedup query into a signature store,
  * upserts the chunk into a bucketed table and compacts it, appends vectors
  * to the IVF index and builds an index segment over them; reads are
  * MinHash and SimHash near-duplicate lookups and IVF top-k searches.
  *
  * Checks: ingest and MinHash lookups against the generator's planted ground
  * truth, SimHash pairs against brute force over the same signatures, IVF
  * searches against a recall floor over exact cosine top-k, the upserted
  * table's keys and versions, and each built segment's row count.
  */
final class CurationStore(data: String, work: String) extends Workload {
  import CurationStore._

  private val manifest = Json.read[Map[String, Any]](s"$data/manifest.json")
  private val layout = manifest("layout").asInstanceOf[Map[String, BigInt]].map { case (k, v) => k -> v.toLong }
  private val pool = layout("pool").toInt

  private val root = s"$work/store"
  private val (storePath, outPath, tablePath, indexPath) =
    (s"$root/signatures", s"$root/published", s"$root/corpus_table", s"$root/ivf")
  private val (srcDir, ckptDir, segmentDir) = (s"$work/stream_src", s"$work/stream_ckpt", s"$work/segments")

  private var stream: StreamingQuery = _
  private var lastPass = -1
  private var baseVectors: Array[(Long, Array[Float])] = _
  private val chunkVectors = scala.collection.mutable.Map.empty[Int, Array[(Long, Array[Float])]]

  def setup(session: EngineSession): Unit = {
    teardown()
    lastPass = -1
    published = null
    tableVerdict = None
    Seq(root, srcDir, ckptDir, segmentDir).foreach(Workload.deleteDir)
    new java.io.File(srcDir).mkdirs()
    val spark = session.spark
    Dedup.signatureStore(spark.read.parquet(s"$data/corpus"), "text", "doc_id", portableIds = true)
      .write.parquet(storePath)
    val vectors = spark.read.parquet(s"$data/vectors")
    Similarity.buildIvfIndex(vectors, "embedding", "vec_id", indexPath, centroidMod = 100)
    if (baseVectors == null) baseVectors = collectVectors(vectors)
    val schema = spark.read.parquet(chunk("chunks", "c", 0)).schema
    stream = DocStreams.ingestDedupStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcDir),
      storePath, outPath, ckptDir, threshold = Threshold, portableIds = true)
  }

  private def chunk(dir: String, prefix: String, p: Int): String = {
    require(p < pool, s"pass $p is past the $pool generated chunks")
    f"$data/$dir/$prefix$p%03d"
  }

  private def collectVectors(df: DataFrame): Array[(Long, Array[Float])] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  def pass(p: Int): Seq[Op] = { lastPass = math.max(lastPass, p); ops(p) }

  private def ops(p: Int): Seq[Op] = Seq(
    Op("ingest", "write", ctx => ctx.span("streaming.ingest") {
      // publish the chunk into the stream's source directory atomically
      val from = java.nio.file.Paths.get(chunk("chunks", "c", p), "part-0.parquet")
      val tmp = java.nio.file.Paths.get(srcDir, f".c$p%03d.parquet")
      java.nio.file.Files.copy(from, tmp)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(srcDir, f"c$p%03d.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
    }, Seq("streaming")),
    Op("upsert", "write", ctx => ctx.span("streaming.upsert") {
      DocStreams.upsertBatch(ctx.spark.read.parquet(chunk("chunks", "c", p))
        .withColumn("version", lit(p)), tablePath, "doc_id", "version", buckets = 8)
    }, Seq("streaming")),
    Op("compact", "write", ctx => ctx.span("operators.compact") {
      Layout.compactPartitions(ctx.spark, tablePath, targetBytes = 64L << 20)
    }, Seq("operators")),
    Op("ivf_append", "write", ctx => ctx.span("operators.ivf_append") {
      Similarity.appendIvfIndex(ctx.spark, indexPath,
        ctx.spark.read.parquet(chunk("vec_chunks", "v", p)), "embedding", "vec_id")
    }, Seq("operators")),
    Op("ivf_build", "write", ctx => ctx.span("operators.ivf_build") {
      Similarity.buildIvfIndex(ctx.spark.read.parquet(chunk("vec_chunks", "v", p)),
        "embedding", "vec_id", s"$segmentDir/s$p", centroidMod = 30)
    }, Seq("operators")),
    Op("minhash_lookup", "read", ctx => {
      val survivors = ctx.span("operators.dedup")(Dedup.incrementalMinHashDedupFromStore(
        ctx.spark.read.parquet(chunk("lookups", "l", p)), ctx.spark.read.parquet(storePath),
        "text", "doc_id", Threshold, portableIds = true))
      ctx.span("action")(survivors.select("doc_id").collect().map(_.getLong(0)).toSeq)
    }, Seq("operators")),
    Op("simhash_lookup", "read", ctx => {
      val pairs = ctx.span("operators.dedup")(
        Dedup.simHashNearDup(ctx.spark.read.parquet(chunk("lookups", "l", p)), "text", "doc_id"))
      ctx.span("action")(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }, Seq("operators")),
    Op("ivf_search", "read", ctx => {
      val top = ctx.span("operators.ivf_search")(Similarity.ivfTopKFromIndex(ctx.spark, indexPath,
        ctx.spark.read.parquet(chunk("queries", "q", p)), "embedding", "vec_id", TopK))
      ctx.span("action")(top.select("query_id", "vec_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    }, Seq("operators")))

  private def chunkVecs(session: EngineSession, c: Int): Array[(Long, Array[Float])] =
    chunkVectors.getOrElseUpdate(c,
      collectVectors(session.spark.read.parquet(chunk("vec_chunks", "v", c))))

  /** Published survivors by chunk, read once when the checks start. */
  private var published: Map[Long, Seq[Long]] = _

  override def check(session: EngineSession, pass: Int, op: Op, result: Any): Option[String] = {
    val spark = session.spark
    val (stride, k) = (layout("stride"), layout("replicas"))
    op.name match {
      case "ingest" =>
        if (published == null) published = spark.read.parquet(outPath).select("doc_id")
          .collect().map(_.getLong(0)).toSeq.groupBy(chunkOf)
        val start = layout("base") + pass * (layout("chunk") + layout("dups"))
        survivorsMatch(published.getOrElse(pass.toLong, Nil), stride, k, start,
          layout("chunk"), start + layout("chunk"), layout("dups"))
      case "minhash_lookup" =>
        val start = layout("base") + layout("pool") * (layout("chunk") + layout("dups")) +
          pass * layout("lookup")
        val dups = layout("lookup") / 2
        survivorsMatch(result.asInstanceOf[Seq[Long]], stride, k, start + dups,
          layout("lookup") - dups, start, dups)
      case "simhash_lookup" =>
        val sigs = Dedup.simHash(spark.read.parquet(chunk("lookups", "l", pass)), "text", "doc_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        simHashMatch(result.asInstanceOf[Set[(Long, Long)]], sigs)
      case "ivf_search" =>
        val corpus = baseVectors ++ (0 to pass).flatMap(c => chunkVecs(session, c))
        val queries = collectVectors(spark.read.parquet(chunk("queries", "q", pass)))
        val r = recall(corpus, queries, result.asInstanceOf[Seq[(Long, Long)]])
        recalls += r
        if (r >= RecallFloor) None else Some(f"recall@$TopK $r%.3f below $RecallFloor")
      case "upsert" | "compact" => tableCheck(session)
      case "ivf_build" =>
        val n = spark.read.parquet(s"$segmentDir/s$pass").count()
        if (n == chunkVecs(session, pass).length) None else Some(s"segment holds $n rows")
      case _ => None
    }
  }

  /** The upserted table, checked once after the loop. */
  private var tableVerdict: Option[Option[String]] = None

  private def tableCheck(session: EngineSession): Option[String] = tableVerdict.getOrElse {
    val rows = session.spark.read.parquet(tablePath).select("doc_id", "version").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq
    val want = (0 to lastPass).map(c => session.spark.read.parquet(chunk("chunks", "c", c)).count()).sum
    val verdict = upsertedMatch(rows, want, chunkOf)
    tableVerdict = Some(verdict)
    verdict
  }

  private def chunkOf(id: Long): Long = {
    val b = id % layout("stride")
    if (b < layout("base")) -1L else (b - layout("base")) / (layout("chunk") + layout("dups"))
  }

  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  override def extras: Map[String, Any] = Map("recalls" -> recalls.toSeq)

  override def storeBytes: Long = Workload.dirBytes(root)

  override def teardown(): Unit = if (stream != null) {
    stream.stop()
    stream = null
  }
}

object CurationStore {
  val Threshold = 0.3
  val TopK = 10
  /** On the sf0.1-shaped vectors (near-uniform unit vectors in 64
    * dimensions) a correct search probing a quarter of the index mass finds
    * 0.48 to 0.68 of the exact top-10 per op of 20 queries; a search that
    * returns wrong ids finds next to none.
    */
  val RecallFloor = 0.3
  /** Planted near-dups sit at 3-shingle Jaccard 0.75 to 0.99, where the
    * default banding finds 97% of them on average; of the 40 in one op,
    * fewer than 83% are found about once in 10^4 ops.
    */
  val DupRecallFloor = 0.75

  /** Near-dup dedup against planted truth. Ids are replica `r` times
    * `stride` plus a base id. Every fresh document (base ids
    * `[fresh, fresh + nFresh)` in each of the `k` replicas) must survive,
    * nothing else may appear, and at least [[DupRecallFloor]] of the planted
    * near-dups (`[dup, dup + nDup)`) must be dropped: verified pairs are
    * exact, so a dropped fresh document is always wrong, while LSH banding
    * may miss a planted pair by design.
    */
  def survivorsMatch(ids: Seq[Long], stride: Long, k: Long, fresh: Long, nFresh: Long,
      dup: Long, nDup: Long): Option[String] = {
    val base = ids.map(_ % stride)
    val freshKept = base.count(b => b >= fresh && b < fresh + nFresh)
    val dupsKept = base.count(b => b >= dup && b < dup + nDup)
    val dropped = 1.0 - dupsKept.toDouble / (nDup * k)
    if (ids.distinct.size != ids.size) Some(s"${ids.size - ids.distinct.size} ids kept twice")
    else if (freshKept != nFresh * k) Some(s"$freshKept of ${nFresh * k} fresh documents kept")
    else if (freshKept + dupsKept != ids.size) Some(s"${ids.size - freshKept - dupsKept} foreign ids")
    else if (dropped < DupRecallFloor) Some(f"only $dropped%.2f of planted near-dups dropped")
    else None
  }

  /** SimHash near-dup pairs against a brute-force pass over the same
    * signatures: every pair within Hamming distance 3, lower id first.
    */
  def simHashMatch(got: Set[(Long, Long)], sigs: Seq[(Long, Long)]): Option[String] = {
    val want = (for {
      (a, ha) <- sigs; (b, hb) <- sigs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    if (got == want) None else Some(s"${got.size} pairs, brute force gives ${want.size}")
  }

  /** Recall@k of one search (query id, hit id) against exact cosine top-k
    * over `corpus`, every vector in the index at that pass.
    */
  def recall(corpus: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
      got: Seq[(Long, Long)]): Double = {
    val gotBy = got.groupBy(_._1).map { case (q, hits) => q -> hits.map(_._2).toSet }
    val hits = queries.map { case (q, qv) =>
      val exact = corpus.map { case (id, v) => id -> cosine(qv, v) }
        .sortBy(x => (-x._2, x._1)).take(TopK).map(_._1).toSet
      (exact intersect gotBy.getOrElse(q, Set.empty)).size
    }
    hits.sum.toDouble / (TopK * queries.length)
  }

  /** The upserted table as (doc id, version) rows: every one of the `want`
    * upserted ids exactly once, at the version of the pass that upserted
    * it (`versionOf`).
    */
  def upsertedMatch(rows: Seq[(Long, Int)], want: Long, versionOf: Long => Long): Option[String] = {
    val ids = rows.map(_._1)
    if (ids.distinct.length != ids.length) Some(s"${ids.length - ids.distinct.length} duplicate keys")
    else if (ids.length != want) Some(s"${ids.length} rows, $want upserted")
    else rows.find { case (id, v) => versionOf(id) != v }.map { case (id, v) => s"doc $id at version $v" }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
