package graft

import graft.functions.VectorExpressions
import graft.operators.{Search, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, ParquetSchemas}

/** Store query builders plan on the driver: relation schemas resolve
  * from one footer (no `parquet at` inference job), probe sets fold
  * over local relations, and only the probed partitions are listed.
  * The only eager jobs left in a BM25 builder read data: the stats
  * row and the tombstone totals. */
class StorePlanningSpec extends SparkSpec {
  import spark.implicits._

  /** Result-stage call sites of every job `body` launches on this
    * thread (the GdsListenerSpec counting pattern, scoped by a job
    * group so jobs of other threads never count). */
  private def jobCallSites[T](body: => T): (T, Seq[String]) = {
    val group = s"store-planning-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "store planning spec")
    try {
      val out = body
      Bridge.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, sites.asScala.toSeq)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def resultSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def localQueries(emb: DataFrame, n: Int): DataFrame =
    emb.filter(col("vec_id") % 97 === 0).limit(n).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
      .toSeq.toDF("qid", "qvec")

  test("queryIvfIndex over a local query frame launches no job in its builder") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val path = tmp("graft_plan_ivf") + "/idx"
    val centroids = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding",
      dim = 64, nCentroids = 16)
    val queries = localQueries(emb, 4)
    val (df, sites) = jobCallSites(Similarity.queryIvfIndex(spark, path, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4))
    assert(sites.isEmpty, s"builder launched jobs: $sites")
    // still the answer of an index-free IVF over the same cells
    val inMemory = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64, nCentroids = 16, nProbe = 4)
    assert(resultSet(df) == resultSet(inMemory))
  }

  test("queryPostingsIndex over a tombstoned index launches only the stats and tombstone-totals jobs") {
    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val path = tmp("graft_plan_post") + "/pidx"
    Search.buildPostingsIndex(corpus, path, "doc_id", "text", nBuckets = 16)
    Search.deleteFromPostingsIndex(spark, path,
      corpus.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")
    val terms = Seq("join", "spark", "window")
    val (df, sites) = jobCallSites(Search.queryPostingsIndex(spark, path, "doc_id", terms, k = 10))
    assert(!sites.exists(_.startsWith("parquet at")), s"schema-inference job ran: $sites")
    assert(sites.exists(_.startsWith("collect at Search.scala")), s"no stats collect: $sites")
    // exactly the jobs of the two data reads on their own (AQE runs the
    // totals' shuffle stage as a job of its own)
    val (_, dataJobs) = jobCallSites {
      val epoch = ParquetSchemas.read(spark, s"$path/stats").collect()(0).getAs[Long]("epoch")
      ParquetSchemas.read(spark, s"$path/deleted").filter(col("__epoch") === epoch)
        .agg(count(lit(1)), sum(col("doc_len"))).collect()
    }
    assert(sites.size == dataJobs.size, s"builder jobs $sites vs stats+totals jobs $dataJobs")
    val survivors = corpus.filter(col("doc_id") % 5 =!= 0)
    assert(resultSet(df) == resultSet(Search.bm25TopK(survivors, "doc_id", "text", terms, k = 10)))
  }

  test("driver-resolved schemas equal Spark's inferred schemas for every store relation and corpus table") {
    def same(p: String): Unit =
      assert(ParquetSchemas.read(spark, p).schema == spark.read.parquet(p).schema, p)

    val corpus = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val post = tmp("graft_schema_post") + "/pidx"
    Search.buildPostingsIndex(corpus.filter(col("doc_id") % 2 === 0), post, "doc_id", "text",
      nBuckets = 16)
    Search.appendPostingsIndex(corpus.filter(col("doc_id") % 2 === 1), post, "doc_id", "text",
      batchId = "grow1")
    Search.deleteFromPostingsIndex(spark, post,
      corpus.filter(col("doc_id") % 7 === 0).select(col("doc_id")), "doc_id")
    Seq("stats", "deleted", "docs", "postings", "positions").foreach(r => same(s"$post/$r"))

    val emb = Tables.table(spark, sfDir, "embeddings")
    val ivf = tmp("graft_schema_ivf") + "/idx"
    val centroids = Similarity.buildIvfIndex(emb, ivf, "vec_id", "embedding", dim = 64,
      nCentroids = 8)
    Similarity.appendIvfIndex(emb.limit(10).withColumn("vec_id", col("vec_id") + 1000000L),
      ivf, centroids, "embedding", dim = 64, batchId = "more1")
    Seq(ivf, s"$ivf/_driftbase/dims", s"$ivf/_driftbase/scalar").foreach(same)
    val pq = tmp("graft_schema_pq") + "/idx"
    Similarity.buildIvfPqIndex(emb, pq, "vec_id", "embedding", dim = 64, nCentroids = 8,
      m = 4, codes = 8, pqIters = 1)
    Seq("codes", "vectors").foreach(r => same(s"$pq/$r"))

    // corpus tables; events reads TIMESTAMP(NANOS) as long (the
    // session flag Tables.events sets), which the resolver honours
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach(n => same(s"$sfDir/$n.parquet"))

    // no data file: the resolver steps aside and the read fails as it
    // always did
    val empty = tmp("graft_schema_empty")
    new java.io.File(s"$empty/_SUCCESS").createNewFile()
    assert(ParquetSchemas.resolve(spark, empty).isEmpty)
    val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    val ours = intercept[org.apache.spark.sql.AnalysisException](ParquetSchemas.read(spark, empty))
    assert(ours.getCondition == theirs.getCondition)
  }

  test("terms and probes whose partitions have no directory answer as a root read would") {
    // 6 distinct terms over 64 buckets: most bucket dirs do not exist
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta delta"), (3L, "gamma epsilon zeta"))
      .toDF("doc_id", "text")
    val path = tmp("graft_edge_post") + "/pidx"
    Search.buildPostingsIndex(docs, path, "doc_id", "text", nBuckets = 64)
    val present = new java.io.File(s"$path/postings").list().filter(_.startsWith("__bucket=")).toSet
    def bucketOf(t: String): Int = Seq(t).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(64L)).cast("int")).head().getInt(0)
    val absent = Iterator.from(0).map(i => s"term$i").find(t => !present(s"__bucket=${bucketOf(t)}")).get
    for (terms <- Seq(Seq(absent), Seq("beta", absent))) {
      val fromIndex = Search.queryPostingsIndex(spark, path, "doc_id", terms, k = 5)
      assert(resultSet(fromIndex) == resultSet(Search.bm25TopK(docs, "doc_id", "text", terms, k = 5)),
        s"terms $terms")
      assert(resultSet(Search.phraseSearchIndexed(spark, path, "doc_id", terms)) ==
        resultSet(Search.phraseSearch(docs, "doc_id", "text", terms)), s"phrase $terms")
    }
    assert(Search.queryPostingsIndex(spark, path, "doc_id", Seq(absent), k = 5).isEmpty)

    // IVF: empty one cell entirely (its dir is dropped), then probe it
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    val vecs = (0 until 40).map { i =>
      (i.toLong, anchors(i % 4).map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val ivf = tmp("graft_edge_ivf") + "/idx"
    val centroids = Similarity.buildIvfIndex(vecs, ivf, "vec_id", "embedding", dim = 8,
      nCentroids = 4)
    val idx = spark.read.parquet(ivf)
    val gone = idx.select("__cell").orderBy("__cell").head().getInt(0)
    val members = idx.filter(col("__cell") === gone).collect()
    Similarity.deleteFromIvfIndex(spark, ivf, members.map(_.getAs[Long]("vec_id")).toSeq.toDF("vec_id"),
      "vec_id")
    assert(!new java.io.File(s"$ivf/__cell=$gone").exists())
    val queries = members.take(2)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
      .toSeq.toDF("qid", "qvec")
    val live = spark.read.parquet(ivf)
    for (nProbe <- Seq(1, 2)) {
      val probed = queries.select(explode(VectorExpressions.nearestCentroids(col("qvec"),
        centroids, 8, 4, nProbe))).as[Int].collect().distinct
      assert(probed.contains(gone))
      // the old plan: root read under the static probe filter, brute force inside it
      val want = Similarity.bruteForceTopK(
        live.filter(col("__cell").isin(probed.map(Int.box): _*)).drop("__cell"),
        queries, "vec_id", "embedding", "qid", "qvec", k = 3)
      val got = Similarity.queryIvfIndex(spark, ivf, centroids, queries,
        "vec_id", "embedding", "qid", "qvec", k = 3, dim = 8, nProbe = nProbe)
      assert(resultSet(got) == resultSet(want), s"nProbe $nProbe")
      if (nProbe == 1) assert(got.isEmpty)
    }
    // a probed cell mid-swap (renamed aside, replacement not landed)
    // next to a live probed cell: the query fails as loudly as the
    // root read, never silently skips the cell
    val liveProbed = queries.select(explode(VectorExpressions.nearestCentroids(col("qvec"),
      centroids, 8, 4, 3))).as[Int].collect().distinct.filter(_ != gone)
    assert(liveProbed.length >= 2)
    assert(new java.io.File(s"$ivf/__cell=${liveProbed.head}")
      .renameTo(new java.io.File(s"$ivf/_old__cell=${liveProbed.head}")))
    val rootErr = intercept[Throwable](spark.read.parquet(ivf))
    val queryErr = intercept[Throwable](Similarity.queryIvfIndex(spark, ivf, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 3, dim = 8, nProbe = 3).collect())
    assert(queryErr.getClass == rootErr.getClass && queryErr.getMessage == rootErr.getMessage)
  }
}
