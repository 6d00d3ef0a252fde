package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.functions.VectorExpressions
import graft.operators.{Search, Similarity}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, element_at}
import org.apache.spark.sql.streaming.StreamingQuery

/** The store_rw_sf0.1 stores: a postings index over the live documents
  * and an IVF index over the live vectors, each kept current by its
  * streaming twin fed from a file-source directory. `gen.py` splits the
  * corpus under `<dir>/store`: `docs_live.parquet` / `vecs_live.parquet`
  * are indexed at build time, the held-out rows wait as equal-sized
  * batch files in `docs_batches/` / `vecs_batches/`. The store applies
  * copies of them: the seed's corpus stays as generated, so every run
  * of a seed replays the same batches. */
final class Store(h: Harness, dir: String, root: String, seed: Long) {
  private val spark = h.spark
  private val trace = h.trace
  private val rng = new Random(seed)
  private val postings = s"$root/postings"
  private val ivf = s"$root/ivf"
  private val docIn = s"$root/in-docs"
  private val vecIn = s"$root/in-vecs"
  private val Dim = 64
  private val K = 10

  org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  Seq(docIn, vecIn).foreach(d => new java.io.File(d).mkdirs())

  private val docsLive = spark.read.parquet(s"$dir/store/docs_live.parquet")
  private val vecsLive = spark.read.parquet(s"$dir/store/vecs_live.parquet")
  private def batches(kind: String) = mutable.Queue.from(
    Option(new java.io.File(s"$dir/store/${kind}_batches").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName))
  private val docBatches = batches("docs")
  private val vecBatches = batches("vecs")
  private val live = mutable.LinkedHashSet.from(docsLive.select("doc_id").collect().map(_.getLong(0)))
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private val deleteBatch = math.max(1, (live.size * 0.04).toInt)
  private val vocab: IndexedSeq[String] = docsLive.select("text").limit(200).collect()
    .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty).distinct.sorted.toIndexedSeq
  private val probes: IndexedSeq[(Long, Seq[Float])] = vecsLive
    .filter(col("vec_id") % 37 === 0).limit(64).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq

  private val centroids: Array[Double] = trace.span("operators", "Similarity.buildIvfIndex") {
    Similarity.buildIvfIndex(vecsLive, ivf, "vec_id", "embedding", Dim)
  }
  trace.span("operators", "Search.buildPostingsIndex") {
    Search.buildPostingsIndex(docsLive, postings, "doc_id", "text")
  }
  private val docStream: StreamingQuery = trace.span("streaming", "StreamOps.postingsIndexStream") {
    StreamOps.postingsIndexStream(spark.readStream.schema(docsLive.schema).parquet(docIn),
      postings, "doc_id", "text", s"$root/ckpt-docs").start()
  }
  private val vecStream: StreamingQuery = trace.span("streaming", "StreamOps.ivfIndexStream") {
    StreamOps.ivfIndexStream(spark.readStream.schema(vecsLive.schema).parquet(vecIn),
      ivf, centroids, "embedding", Dim, s"$root/ckpt-vecs").start()
  }

  def stop(): Unit = Seq(docStream, vecStream).foreach { q => q.stop(); q.awaitTermination() }

  /** A pass appends once: it needs a held-out batch of each kind. */
  def canPass: Boolean = docBatches.nonEmpty && vecBatches.nonEmpty

  private def terms(n: Int): Seq[String] = rng.shuffle(vocab).take(n).sorted

  private def probeFrame(ps: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    ps.map { case (id, v) => (id, v.toArray) }.toDF("qid", "qvec")
  }

  private def rows(q: StreamingQuery): Long =
    q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap.values.sum

  /** Copy the next held-out batch file into a stream's input directory
    * and wait until the stream has applied it. Returns the rows applied. */
  private def append(q: StreamingQuery, pending: mutable.Queue[java.io.File], in: String,
                     name: String): Long = trace.span("streaming", name) {
    val before = rows(q)
    val f = pending.dequeue()
    java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(in, f.getName))
    q.processAllAvailable()
    rows(q) - before
  }

  private def postingsQuery = h.frameOp("postings_query", write = false, () =>
    trace.span("operators", "Search.queryPostingsIndex")(
      Search.queryPostingsIndex(spark, postings, "doc_id", terms(2), K)))
  private def ivfQuery = h.frameOp("ivf_query", write = false, () =>
    trace.span("operators", "Similarity.queryIvfIndex")(
      Similarity.queryIvfIndex(spark, ivf, centroids, probeFrame(rng.shuffle(probes).take(4)),
        "vec_id", "embedding", "qid", "qvec", K, Dim)))

  /** Six reads (three text searches, three vector searches, so that each
    * read's median rests on three samples) beside one round of the three
    * writes. rankedTopKIndexed is left out: at 2-4 s a call, a pass with
    * it does not fit a run. */
  val ops: Seq[Op] = Seq.fill(3)(postingsQuery) ++ Seq.fill(3)(ivfQuery) ++ Seq(
    Op("append_docs", write = true, () => append(docStream, docBatches, docIn, "append_docs")),
    Op("append_vecs", write = true, () => append(vecStream, vecBatches, vecIn, "append_vecs")),
    Op("delete_docs", write = true, () => {
      val ids = rng.shuffle(live.toIndexedSeq).take(deleteBatch)
      live --= ids
      deleted ++= ids
      import spark.implicits._
      trace.span("operators", "Search.deleteFromPostingsIndex") {
        Search.deleteFromPostingsIndex(spark, postings, ids.toDF("doc_id"), "doc_id")
      }
    }))

  /** The grown store must answer seeded probes exactly as the
    * from-scratch operators do over the live data: BM25 retrieval
    * against `bm25TopK` over the live documents, IVF retrieval against
    * an index of every indexed vector built afresh under the frozen
    * centroids. Returns (probes, failed). */
  def check(errors: mutable.Buffer[String]): (Long, Long) = {
    import spark.implicits._
    val checkRng = new Random(seed ^ 0x5eedL)
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val gone = deleted.toSeq.toDF("doc_id")
    val liveDocs = docsLive.unionByName(spark.read.schema(docsLive.schema).parquet(docIn))
      .join(gone, Seq("doc_id"), "left_anti")
    val fresh = s"$root/ivf-fresh"
    vecsLive.unionByName(spark.read.schema(vecsLive.schema).parquet(vecIn))
      .withColumn("__cell", element_at(VectorExpressions.nearestCentroids(col("embedding"),
        centroids, Dim, centroids.length / Dim, 1), 1))
      .write.partitionBy("__cell").parquet(fresh)
    val ts = checkRng.shuffle(vocab).take(2).sorted
    val q = probeFrame(checkRng.shuffle(probes).take(4))
    val results = Seq(
      s"bm25 $ts" -> (sorted(Search.queryPostingsIndex(spark, postings, "doc_id", ts, K)) ==
        sorted(Search.bm25TopK(liveDocs, "doc_id", "text", ts, K))),
      "ivf probe" -> (sorted(Similarity.queryIvfIndex(spark, ivf, centroids, q,
        "vec_id", "embedding", "qid", "qvec", K, Dim)) ==
        sorted(Similarity.queryIvfIndex(spark, fresh, centroids, q,
          "vec_id", "embedding", "qid", "qvec", K, Dim))))
    results.filterNot(_._2).foreach { case (p, _) => errors += s"store check: $p differs from a fresh build" }
    (results.size.toLong, results.count(!_._2).toLong)
  }

  def layerMetrics: Map[String, Double] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def files(p: String) = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var n, bytes = 0L
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen } }
      (n, bytes)
    }
    val (pf, pb) = files(postings)
    val (vf, vb) = files(ivf)
    val liveRows = live.size.toLong + spark.read.parquet(docIn).count() +
      spark.read.parquet(ivf).count()
    Map("operators.store_files" -> (pf + vf).toDouble,
      "operators.store_bytes_per_row" -> (pb + vb).toDouble / math.max(liveRows, 1L))
  }
}

object Store {
  /** The store metrics of a workload without stores. */
  val noMetrics: Map[String, Double] = Map("operators.store_files" -> 0.0,
    "operators.store_bytes_per_row" -> 0.0)
}
