package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("vector functions match hand-computed values") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.norm(col("a")).as("na"),
      VectorFunctions.cosineRounded(col("a"), col("b")).as("cos")).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-6)
  }

  test("native codegen expressions match the HOF reference formulations") {
    val df = Tables.embeddings(spark, sfDir).limit(200)
      .select(col("vec_id"), col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    val cmp = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("hof"),
      VectorFunctions.dot(col("a"), col("b")).as("ndot"),
      VectorFunctions.dotHof(col("a"), col("b")).as("hdot"),
      VectorFunctions.lshBuckets(col("a"), 64, 8, 4).as("buckets"),
      VectorFunctions.lshBucket(col("a"), 64, 8, 42L).as("t0"),
      VectorFunctions.lshBucket(col("a"), 64, 8, 42L + 7919L).as("t1"))
    cmp.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9)
      val buckets = r.getSeq[Long](4)
      assert(buckets.length == 4)
      assert(buckets(0) == r.getLong(5)) // table 0 == single-table impl, same seed
      assert(buckets(1) == r.getLong(6)) // table 1 == seed + 7919
    }
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)),
    ).toDF("id", "v")
    val queries = Seq((100L, Seq(1f, 0f))).toDF("qid", "qv")
    val out = Similarity.bruteForceTopK(corpus, queries, "id", "v", "qid", "qv", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    assert(out.head.getAs[Double]("score") == 1.0)
  }

  test("TopKAggregate matches a window-ranked reference on real embeddings") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val scored = emb.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("qvec")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id").asc)
    val ref = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 7)
      .select("qid", "vec_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val agg = scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAggregate.topK(col("score"), col("vec_id"), 7).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("qid"), col("e.id"), (col("r") + 1).cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg == ref)
  }

  test("TopKAggregate edge cases: fewer rows than k, k boundary eviction") {
    import graft.functions.TopKAggregate.topK
    val df = Seq((1L, 0.9, 10L), (1L, 0.9, 5L), (1L, 0.1, 7L), (2L, 0.5, 1L))
      .toDF("g", "s", "id")
    val out = df.groupBy(col("g")).agg(topK(col("s"), col("id"), 2).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getDouble(0), e.getLong(1)))).toMap
    assert(out(1L) == Seq((0.9, 5L), (0.9, 10L))) // tie -> smaller id first
    assert(out(2L) == Seq((0.5, 1L)))             // fewer than k
  }

  test("ivfTopK: rank-1 self-match and decent overlap with brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid", "qvec",
      k = 5, dim = 64, nCentroids = 16, nProbe = 8)
    val out = ivf.collect()
    // the query vector itself lives in a probed cell (its own nearest cell) -> rank 1, score 1.0
    out.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("vec_id") == r.getAs[Long]("qid"))
      assert(r.getAs[Double]("score") == 1.0)
    }
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "qid", "qvec", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val ivfSet = out.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    // nProbe=8 of 16 cells -> expect at least ~40% overlap with exact top-5
    assert(ivfSet.intersect(bf).size.toDouble / bf.size > 0.4)
  }

  test("ivfTopK survives zero vectors in corpus and queries") {
    val corpus = Seq(
      (1L, Seq.fill(8)(0f)), // zero vector: NaN cosine everywhere
      (2L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)),
    ).toDF("id", "v")
    val queries = Seq((10L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("qid", "qv")
    val out = Similarity.ivfTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 2, dim = 8, nCentroids = 2, nProbe = 2)
    // must not crash; the unit query must find its identical corpus vector
    assert(out.filter(col("rank") === 1).head().getAs[Long]("id") == 2L)
  }

  test("persisted IVF index: identical results to in-memory ivfTopK, scan prunes to probed cells") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/index"
    val centroids = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding",
      dim = 64, nCentroids = 16)

    val fromIndex = Similarity.queryIvfIndex(spark, path, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4)
    val inMemory = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64, nCentroids = 16, nProbe = 4)
    assert(fromIndex.collect().map(_.toSeq).toSet == inMemory.collect().map(_.toSeq).toSet)

    // pruning: the index scan must touch only the probed cells'
    // partitions, not all 16 (dynamic partition pruning from the
    // broadcast cell join, or static after AQE folds the broadcast)
    def indexFilesScanned(df: DataFrame): Long = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      // materialized AQE stages are leaf nodes hiding their subtree —
      // recurse through them to reach the file scans
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.flatMap {
        case s: FileSourceScanExec => Seq(s)
        case q: QueryStageExec => scans(q.plan)
        case _ => Nil
      }
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val indexScans = scans(finalPlan)
        .filter(_.metadata.get("Location").exists(_.contains("index")))
      assert(indexScans.nonEmpty, "expected the index file scan in the plan")
      indexScans.map(_.metrics("numFiles").value).sum
    }
    val allFiles = indexFilesScanned(spark.read.parquet(path))
    val oneQuery = queries.limit(1)
    val prunedFiles = indexFilesScanned(Similarity.queryIvfIndex(spark, path, centroids,
      oneQuery, "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4))
    assert(prunedFiles < allFiles,
      s"expected pruned scan ($prunedFiles) < full scan ($allFiles)")
  }

  test("appendIvfIndex: appended index == fresh build of the union under the frozen quantizer") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val old = emb.filter(col("vec_id") % 4 < 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    val appendedPath = java.nio.file.Files.createTempDirectory("graft_ivf_a").toString + "/idx"
    val centroids = Similarity.buildIvfIndex(old, appendedPath, "vec_id", "embedding",
      dim = 64, nCentroids = 16)
    val oldRows = spark.read.parquet(appendedPath).count()
    Similarity.appendIvfIndex(delta, appendedPath, centroids, "embedding", dim = 64, batchId = "b1")

    // O(delta) growth: the append added exactly the delta's rows
    val appended = spark.read.parquet(appendedPath)
    assert(appended.count() == oldRows + delta.count())

    // frozen quantizer: a fresh build of old ∪ delta under the SAME
    // centroids produces the identical (vec_id, cell) relation...
    val rebuiltPath = java.nio.file.Files.createTempDirectory("graft_ivf_b").toString + "/idx"
    val cell1 = graft.functions.VectorExpressions
      .nearestCentroids(col("embedding"), centroids, 64, centroids.length / 64, 1)
    emb.withColumn("__cell", org.apache.spark.sql.functions.element_at(cell1, 1))
      .write.partitionBy("__cell").parquet(rebuiltPath)
    val rebuilt = spark.read.parquet(rebuiltPath)
    assert(appended.select("vec_id", "__cell").collect().map(_.toSeq).toSet ==
      rebuilt.select("vec_id", "__cell").collect().map(_.toSeq).toSet)

    // ...so queries cannot tell the appended index from the rebuild
    def q(path: String) = Similarity.queryIvfIndex(spark, path, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(q(appendedPath) == q(rebuiltPath))
  }

  test("deleteFromIvfIndex: delete ∘ append == rebuild of the surviving set; emptied cells dropped; idempotent") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_d").toString + "/idx"
    val centroids = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding",
      dim = 64, nCentroids = 16)
    val dels = emb.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val delta = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val touched = Similarity.deleteFromIvfIndex(spark, path, dels, "vec_id")
    assert(touched > 0)
    Similarity.appendIvfIndex(delta, path, centroids, "embedding", dim = 64, batchId = "b1")

    // delete ∘ append == fresh build of (survivors ∪ delta) under the
    // same frozen centroids: identical (vec_id, cell) relation
    val survivors = emb.filter(col("vec_id") % 10 =!= 7).unionByName(delta)
    val rebuiltPath = java.nio.file.Files.createTempDirectory("graft_ivf_e").toString + "/idx"
    val cell1 = graft.functions.VectorExpressions
      .nearestCentroids(col("embedding"), centroids, 64, centroids.length / 64, 1)
    survivors.withColumn("__cell", element_at(cell1, 1))
      .write.partitionBy("__cell").parquet(rebuiltPath)
    def rel(p: String) = spark.read.parquet(p)
      .select("vec_id", "__cell").collect().map(_.toSeq).toSet
    assert(rel(path) == rel(rebuiltPath))

    // ...and queries cannot tell the maintained index from the rebuild
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def q(p: String) = Similarity.queryIvfIndex(spark, p, centroids, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4)
      .collect().map(_.toSeq).toSet
    assert(q(path) == q(rebuiltPath))

    // same delete again: nothing left to touch (idempotent no-op)
    assert(Similarity.deleteFromIvfIndex(spark, path, dels, "vec_id") == 0)

    // crash recovery: a half-swapped cell (live dir renamed aside but
    // replacement never landed) is rolled back at the next delete's
    // entry — a root read meanwhile fails loudly on the conflicting
    // partition name (never silently resurrects)
    val anyCell = spark.read.parquet(path).select("__cell").distinct()
      .orderBy(col("__cell").asc).first().getInt(0)
    val cellDir = new java.io.File(path.stripSuffix("/idx") + s"/idx/__cell=$anyCell")
    val asideDir = new java.io.File(path.stripSuffix("/idx") + s"/idx/_old__cell=$anyCell")
    val rowsBefore = spark.read.parquet(path).count()
    assert(cellDir.renameTo(asideDir))
    // repair happens on entry even when nothing matches the delete set
    Similarity.deleteFromIvfIndex(spark, path,
      spark.range(0).select(col("id").as("vec_id")), "vec_id")
    assert(cellDir.exists() && !asideDir.exists())
    assert(spark.read.parquet(path).count() == rowsBefore)

    // emptying a whole cell drops its partition dir outright — dynamic
    // overwrite alone would have silently kept the old files
    val idx = spark.read.parquet(path)
    val someCell = idx.groupBy("__cell").count().orderBy(col("count").asc, col("__cell").asc)
      .first().getInt(0)
    val cellIds = idx.filter(col("__cell") === someCell).select(col("vec_id"))
    assert(Similarity.deleteFromIvfIndex(spark, path, cellIds, "vec_id") == 1)
    assert(!new java.io.File(path.stripSuffix("/idx") + s"/idx/__cell=$someCell").exists())
    assert(spark.read.parquet(path).filter(col("__cell") === someCell).count() == 0)
  }

  // --- store crash properties: kill the protocol at EVERY step -------

  /** 40 vectors in 4 tight dim-8 clusters — every maintenance step is
    * sub-second and cell membership is deterministic. */
  private def tinyVectors = {
    val rnd = new scala.util.Random(11)
    val anchors = Array.fill(4)(Array.fill(8)(rnd.nextGaussian()))
    (0 until 40).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def copyStore(src: String, dst: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(src), new java.io.File(dst))

  private def cellRel(p: String) = spark.read.parquet(p)
    .select("vec_id", "__cell").collect().map(_.toSeq).toSet

  test("IVF append crash property: the retry converges at every step boundary; committed replay is a no-op") {
    val emb = tinyVectors
    val old = emb.filter(col("vec_id") % 4 < 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfappcrash").toString
    val basePath = s"$root/base"
    val centroids = Similarity.buildIvfIndex(old, basePath, "vec_id", "embedding",
      dim = 8, nCentroids = 4)
    val fullPath = s"$root/full"
    val cell1 = graft.functions.VectorExpressions
      .nearestCentroids(col("embedding"), centroids, 8, centroids.length / 8, 1)
    emb.withColumn("__cell", element_at(cell1, 1))
      .write.partitionBy("__cell").parquet(fullPath)
    val want = cellRel(fullPath)

    val nSteps = Similarity.appendIvfSteps(delta, s"$root/probe", centroids,
      "embedding", 8, "b1").length
    (0 to nSteps).foreach { k =>
      val p = s"$root/k$k"; copyStore(basePath, p)
      Similarity.appendIvfSteps(delta, p, centroids, "embedding", 8, "b1")
        .take(k).foreach(_._2())
      Similarity.appendIvfIndex(delta, p, centroids, "embedding", dim = 8, batchId = "b1")
      assert(cellRel(p) == want, s"crash at step $k: index diverged")
      assert(spark.read.parquet(p).count() == 40L, s"crash at step $k: duplicated vectors")
      assert(!new java.io.File(s"$p/_staging/b1").exists(), s"crash at step $k: staging leaked")
      // committed replay: exactly-once no-op
      Similarity.appendIvfIndex(delta, p, centroids, "embedding", dim = 8, batchId = "b1")
      assert(spark.read.parquet(p).count() == 40L, s"replay after crash at step $k duplicated")
    }
  }

  test("IVF delete crash property: recovery at every boundary; an emptied cell rolls FORWARD, never resurrects") {
    val emb = tinyVectors
    val root = java.nio.file.Files.createTempDirectory("graft_ivfdelcrash").toString
    val basePath = s"$root/base"
    val centroids = Similarity.buildIvfIndex(emb, basePath, "vec_id", "embedding",
      dim = 8, nCentroids = 4)
    // delete set: ALL of one cell (it empties) plus part of another
    val base = spark.read.parquet(basePath)
    val emptiedCell = base.groupBy("__cell").count()
      .orderBy(col("count").asc, col("__cell").asc).first().getInt(0)
    val otherCell = base.filter(col("__cell") =!= emptiedCell)
      .select("__cell").orderBy(col("__cell").asc).first().getInt(0)
    val dels = base.filter(col("__cell") === emptiedCell
        || (col("__cell") === otherCell && col("vec_id") % 2 === 0))
      .select(col("vec_id")).localCheckpoint(true)
    val survivors = base.join(dels, Seq("vec_id"), "left_anti")
      .select("vec_id", "__cell").collect().map(_.toSeq).toSet
    val noneDel = spark.range(0).select(col("id").as("vec_id"))

    val probe = s"$root/probe"; copyStore(basePath, probe)
    val (touchedProbe, stepsProbe) = Similarity.deleteFromIvfSteps(spark, probe, dels, "vec_id")
    assert(touchedProbe.length == 2)
    val stepNames = stepsProbe.map(_._1)

    (0 to stepNames.length).foreach { k =>
      val p = s"$root/k$k"; copyStore(basePath, p)
      Similarity.deleteFromIvfSteps(spark, p, dels, "vec_id")._2.take(k).foreach(_._2())
      // the dangerous path: a LATER delete with an UNRELATED (here
      // empty) set — its entry repair must complete half-finished
      // swaps, not roll an emptied cell back to life
      Similarity.deleteFromIvfIndex(spark, p, noneDel, "vec_id")
      // then the at-least-once retry of the original delete converges
      Similarity.deleteFromIvfIndex(spark, p, dels, "vec_id")
      assert(cellRel(p) == survivors, s"crash at step $k (${stepNames.take(k).lastOption}): diverged")
      assert(!new java.io.File(p + "__delstage").exists(), s"crash at step $k: staging leaked")
      assert(!new java.io.File(s"$p/_old__cell=$emptiedCell").exists() &&
        !new java.io.File(s"$p/__cell=$emptiedCell").exists(),
        s"crash at step $k: emptied cell resurrected or left aside")
    }
  }

  test("IVF replay protection survives marker pruning and cell-rewriting deletes: the applied ledger stays loud") {
    val emb = tinyVectors
    val root = java.nio.file.Files.createTempDirectory("graft_ivfledger").toString
    val path = s"$root/idx"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val centroids = Similarity.buildIvfIndex(emb.filter(col("vec_id") < 30), path,
      "vec_id", "embedding", dim = 8, nCentroids = 4)
    val b1 = emb.filter(col("vec_id") >= 30 && col("vec_id") < 35)
    val b2 = emb.filter(col("vec_id") >= 35)
    Similarity.appendIvfIndex(b1, path, centroids, "embedding", dim = 8, batchId = "1", streamBatch = true)
    Similarity.appendIvfIndex(b2, path, centroids, "embedding", dim = 8, batchId = "2", streamBatch = true)
    // age batch 1's marker out of retention, then delete ids out of
    // EVERY cell batch 1 touched — the cell rewrite folds away its
    // b1- prefixed files, so only the ledger remembers the batch
    assert(new java.io.File(s"$path/_commits/1").setLastModified(
      System.currentTimeMillis() - 2 * graft.operators.StoreProtocol.markerRetentionMs))
    val b1Cells = spark.read.parquet(path).filter(col("vec_id") >= 30 && col("vec_id") < 35)
      .select("__cell").distinct().collect().map(_.getInt(0))
    val dels = spark.read.parquet(path)
      .filter(col("__cell").isin(b1Cells.map(Int.box): _*) && col("vec_id") < 30)
      .select(col("vec_id")).localCheckpoint(true)
    Similarity.deleteFromIvfIndex(spark, path, dels, "vec_id")
    assert(!new java.io.File(s"$path/_commits/1").exists(), "marker should be pruned")
    // delete b1's own vectors too so NO b1-prefixed file survives
    Similarity.deleteFromIvfIndex(spark, path,
      emb.filter(col("vec_id") >= 30 && col("vec_id") < 35).select(col("vec_id")), "vec_id")
    assert(!graft.operators.StoreProtocol.hasBatchFiles(fs,
      new org.apache.hadoop.fs.Path(path), "1"),
      "cell rewrites should have folded away the prefixed files — the ledger is load-bearing")
    val before = cellRel(path)
    val e = intercept[java.io.IOException] {
      Similarity.appendIvfIndex(b1, path, centroids, "embedding", dim = 8, batchId = "1", streamBatch = true)
    }
    assert(e.getMessage.contains("re-using old batch ids"))
    assert(cellRel(path) == before) // nothing applied, nothing lost
    // a fresh id past the high-water mark still appends
    Similarity.appendIvfIndex(b1, path, centroids, "embedding", dim = 8, batchId = "3", streamBatch = true)
    assert(cellRel(path) != before)
  }

  test("ivfStoreStats: vector/cell/file counts and pending-maintenance signals") {
    val emb = tinyVectors
    val path = java.nio.file.Files.createTempDirectory("graft_ivfstats").toString + "/idx"
    Similarity.buildIvfIndex(emb, path, "vec_id", "embedding", dim = 8, nCentroids = 4)
    val s0 = Similarity.ivfStoreStats(spark, path).collect()(0)
    assert(s0.getAs[Long]("n_vectors") == 40L)
    assert(s0.getAs[Long]("n_cells") >= 1L && s0.getAs[Long]("n_files") >= s0.getAs[Long]("n_cells"))
    assert(s0.getAs[Long]("bytes") > 0L)
    assert(s0.getAs[Long]("uncommitted_batches") == 0L && s0.getAs[Long]("pending_cell_swaps") == 0L)
    assert(s0.getAs[Long]("replay_hw") == -1L && s0.getAs[Long]("replay_named") == 0L)
    // a half-swapped cell surfaces as pending maintenance
    val anyCell = spark.read.parquet(path).select("__cell").distinct()
      .orderBy(col("__cell").asc).first().getInt(0)
    new java.io.File(s"$path/__cell=$anyCell")
      .renameTo(new java.io.File(s"$path/_old__cell=$anyCell"))
    val s1 = Similarity.ivfStoreStats(spark, path).collect()(0)
    assert(s1.getAs[Long]("pending_cell_swaps") == 1L)
    Similarity.deleteFromIvfIndex(spark, path,
      spark.range(0).select(col("id").as("vec_id")), "vec_id") // entry repair restores
    assert(Similarity.ivfStoreStats(spark, path).collect()(0)
      .getAs[Long]("pending_cell_swaps") == 0L)
  }

  test("lshTopK returns the exact match in its candidates") {
    val dim = 16
    val corpus = (1 to 200).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).toFloat).toSeq)
    }.toDF("id", "v")
    val queries = Seq((42L, Array.tabulate(dim)(d => math.sin(42 * 31 + d * 7).toFloat).toSeq))
      .toDF("qid", "qv")
    val out = Similarity.lshTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 3, dim = dim, nBits = 6, nTables = 8).collect()
    // the identical vector hashes identically in every table -> always a candidate, rank 1
    assert(out.find(_.getAs[Int]("rank") == 1).get.getAs[Long]("id") == 42L)
  }

  test("knnGraph finds duplicate-group members as rank-1 neighbors, both directions") {
    val dim = 16
    // 50 base directions, each duplicated once (ids i and i+1000)
    val corpus = (1 to 50).flatMap { i =>
      val v = Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).toFloat).toSeq
      Seq((i.toLong, v), (i + 1000L, v))
    }.toDF("vec_id", "embedding")
    val out = Similarity.knnGraph(corpus, "vec_id", "embedding",
      k = 3, dim = dim, nBits = 6, nTables = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toMap
    (1 to 50).foreach { i =>
      // an identical twin shares every bucket -> guaranteed candidate,
      // cosine 1.0, and the smaller-id tie-break puts it at rank 1
      assert(out((i.toLong, 1)) == (i + 1000L, 1.0),
        s"twin of $i missing: ${out.get((i.toLong, 1))}")
      assert(out((i + 1000L, 1)) == (i.toLong, 1.0))
    }
  }

  test("ivfPqTopK: exact rescore recovers brute-force top-k on clustered data") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    // 8 well-separated cluster anchors, 40 vectors each (small jitter)
    val anchors = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val corpus = (0 until 320).map { i =>
      val a = anchors(i % 8)
      (i.toLong, a.map(v => (v + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val approx = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = dim, nCentroids = 8, nProbe = 3,
      m = 4, codes = 8, rescore = 40)
    val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5)
    val rec = Similarity.recallAtK(approx, truth, "qid", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rec.size == 4)
    // clusters are tight and well separated: probing 3/8 cells with a
    // 40-deep exact rescore must recover the full exact top-5
    assert(rec.values.forall(_ == 1.0), s"recall=$rec")
    // scores of surviving rows are the EXACT cosines (rescore pass)
    val a1 = approx.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val t1 = truth.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    a1.foreach { case (k2, s) => assert(t1.get(k2).forall(_ == s)) }
  }

  test("recallAtK: exact hit counts and rounded recall per query") {
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("qid", "vec_id")
    val ann = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 50L), (2L, 51L), (2L, 52L))
      .toDF("qid", "vec_id")
    val out = Similarity.recallAtK(ann, truth, "qid", "vec_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (3L, 2L, 0.666667)) // 10,12 hit; 11 missed
    assert(out(2L) == (3L, 0L, 0.0))      // disjoint
    // recall of the exact result against itself is 1.0 everywhere
    val self = Similarity.recallAtK(truth, truth, "qid", "vec_id")
      .collect().map(_.getAs[Double]("recall")).toSet
    assert(self == Set(1.0))
  }

  // ---- PQ-encoded persisted IVF store -------------------------------

  test("persisted IVF+PQ store: query bit-identical to ivfPqTopK; codes index far smaller than the sidecar") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    val (flat, cbs) = Similarity.buildIvfPqIndex(emb, path, "vec_id", "embedding",
      dim = 64, nCentroids = 16, m = 4, codes = 8, pqIters = 2)
    val fromStore = Similarity.queryIvfPqIndex(spark, path, flat, cbs, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4, rescore = 20)
    val inMemory = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64, nCentroids = 16, nProbe = 4,
      m = 4, codes = 8, rescore = 20)
    assert(fromStore.collect().map(_.toSeq).toSet == inMemory.collect().map(_.toSeq).toSet)
    // the compression evidence: the scanned index is a fraction of the
    // raw-vector sidecar (4 int codes vs 64 floats per vector)
    val st = Similarity.ivfPqStoreStats(spark, path).collect()(0)
    assert(st.getAs[Long]("n_vectors") == emb.count())
    assert(st.getAs[Long]("codes_bytes") < st.getAs[Long]("vectors_bytes") / 2,
      s"codes ${st.getAs[Long]("codes_bytes")} vs vectors ${st.getAs[Long]("vectors_bytes")}")
  }

  test("appendIvfPqIndex: appended store == fresh build of the union under frozen quantizer AND codebooks") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val old = emb.filter(col("vec_id") % 4 < 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val queries = emb.filter(col("vec_id") % 1000 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val appendedPath = java.nio.file.Files.createTempDirectory("graft_ivfpq_a").toString + "/idx"
    val (flat, cbs) = Similarity.buildIvfPqIndex(old, appendedPath, "vec_id", "embedding",
      dim = 64, nCentroids = 16, m = 4, codes = 8, pqIters = 2)
    val oldRows = spark.read.parquet(s"$appendedPath/codes").count()
    Similarity.appendIvfPqIndex(delta, appendedPath, flat, cbs, "vec_id", "embedding",
      dim = 64, batchId = "crawlA")
    // O(delta) growth on BOTH relations
    assert(spark.read.parquet(s"$appendedPath/codes").count() == oldRows + delta.count())
    assert(spark.read.parquet(s"$appendedPath/vectors").count() == oldRows + delta.count())
    // fresh build of old ∪ delta under the SAME frozen (centroids,
    // codebooks) — code/cell assignment depends only on (vector,
    // params), so both relations must be identical and queries cannot
    // tell the appended store from the rebuild
    val frozenPath = java.nio.file.Files.createTempDirectory("graft_ivfpq_c").toString + "/idx"
    val cellOf = element_at(graft.functions.VectorExpressions
      .nearestCentroids(col("embedding"), flat, 64, flat.length / 64, 1), 1)
    graft.operators.Quantize.pqEncode(emb, "vec_id", "embedding", 64, cbs)
      .join(emb.select(col("vec_id"), cellOf.as("__cell")), "vec_id")
      .write.partitionBy("__cell").parquet(s"$frozenPath/codes")
    emb.select(col("vec_id"), col("embedding"), cellOf.as("__cell"))
      .write.partitionBy("__cell").parquet(s"$frozenPath/vectors")
    def codesRel(p: String) = spark.read.parquet(s"$p/codes")
      .select("vec_id", "__cell", "codes")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(codesRel(appendedPath) == codesRel(frozenPath))
    def q(p: String) = Similarity.queryIvfPqIndex(spark, p, flat, cbs, queries,
      "vec_id", "embedding", "qid", "qvec", k = 5, dim = 64, nProbe = 4, rescore = 20)
      .collect().map(_.toSeq).toSet
    assert(q(appendedPath) == q(frozenPath))
  }

  test("IVF+PQ append crash property: retry converges at every step boundary; replay verified no-op; reset-content loud") {
    val emb = tinyVectors
    val old = emb.filter(col("vec_id") % 4 < 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpqcrash").toString
    val basePath = s"$root/base"
    val (flat, cbs) = Similarity.buildIvfPqIndex(old, basePath, "vec_id", "embedding",
      dim = 8, nCentroids = 4, m = 4, codes = 4, pqIters = 1)
    def rel(p: String) = spark.read.parquet(s"$p/codes")
      .select("vec_id", "__cell").collect().map(_.toSeq).toSet
    // the converged target: a clean append on a pristine copy
    val cleanPath = s"$root/clean"; copyStore(basePath, cleanPath)
    Similarity.appendIvfPqIndex(delta, cleanPath, flat, cbs, "vec_id", "embedding",
      dim = 8, batchId = "b1", streamBatch = true)
    val want = rel(cleanPath)
    assert(want.size == 40)

    val nSteps = Similarity.appendIvfPqSteps(delta, s"$root/probe", flat, cbs,
      "vec_id", "embedding", 8, "b1").length
    (0 to nSteps).foreach { k =>
      val p = s"$root/k$k"; copyStore(basePath, p)
      Similarity.appendIvfPqSteps(delta, p, flat, cbs, "vec_id", "embedding", 8, "b1")
        .take(k).foreach(_._2())
      Similarity.appendIvfPqIndex(delta, p, flat, cbs, "vec_id", "embedding",
        dim = 8, batchId = "b1", streamBatch = true)
      assert(rel(p) == want, s"crash at step $k: codes diverged")
      assert(spark.read.parquet(s"$p/vectors").count() == 40L,
        s"crash at step $k: sidecar duplicated or lost vectors")
      assert(!new java.io.File(s"$p/_staging/b1").exists(), s"crash at step $k: staging leaked")
      // verified exactly-once replay: same content no-ops...
      Similarity.appendIvfPqIndex(delta, p, flat, cbs, "vec_id", "embedding",
        dim = 8, batchId = "b1", streamBatch = true)
      assert(rel(p) == want, s"replay after crash at step $k diverged")
    }
    // ...but a redelivery with DIFFERENT content under the sealed id
    // (a reset checkpoint that re-batched the source) fails loudly
    val more = emb.filter(col("vec_id") % 4 >= 2) // a superset-ish different batch
    val ex = intercept[java.io.IOException] {
      Similarity.appendIvfPqIndex(more, cleanPath, flat, cbs, "vec_id", "embedding",
        dim = 8, batchId = "b1", streamBatch = true)
    }
    assert(ex.getMessage.contains("DIFFERENT content"))
    // and the numeric id space stays reserved for stream twins
    val exNum = intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(delta, cleanPath, flat, cbs, "vec_id", "embedding",
        dim = 8, batchId = "7")
    }
    assert(exNum.getMessage.contains("reserved for stream batches"))
  }

  // ---- evidence-driven IVF maintenance -------------------------------

  test("ivfMaintenanceDecision: healthy store passes; a drifted append trips drift_due; skew trips skew_due") {
    val emb = tinyVectors
    val root = java.nio.file.Files.createTempDirectory("graft_ivfpolicy").toString
    val path = s"$root/idx"
    val centroids = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding",
      dim = 8, nCentroids = 4)
    val healthy = Similarity.ivfMaintenanceDecision(spark, path, "embedding").collect()(0)
    assert(!healthy.getAs[Boolean]("rebuild_due"), healthy.getAs[String]("reason"))
    assert(healthy.getAs[String]("reason") == "healthy")
    assert(healthy.getAs[Double]("centroid_cosine") > 0.999)
    assert(math.abs(healthy.getAs[Double]("norm_ratio") - 1.0) < 0.01)

    // a strongly drifted delta (every dim shifted +5): the mean vector
    // swings away from the build-time baseline and the norms inflate
    val drifted = emb.select((col("vec_id") + 100L).as("vec_id"),
      transform(col("embedding"), v => v + lit(5.0f)).as("embedding"))
    Similarity.appendIvfIndex(drifted, path, centroids, "embedding", dim = 8,
      batchId = "driftbatch")
    val after = Similarity.ivfMaintenanceDecision(spark, path, "embedding").collect()(0)
    assert(after.getAs[Boolean]("drift_due"), after.getAs[String]("reason"))
    assert(after.getAs[Boolean]("rebuild_due"))
    // the shifted vectors also pile into few cells — at a tight
    // threshold that is skew evidence too
    val skewed = Similarity.ivfMaintenanceDecision(spark, path, "embedding",
      maxCellSkew = 1.5).collect()(0)
    assert(skewed.getAs[Boolean]("skew_due"), skewed.getAs[String]("reason"))

    // rebuild: fresh centroids from today's distribution; the decision
    // returns to healthy and the caller gets the new quantizer
    val newFlat = Similarity.rebuildIvfIfNeeded(spark, path, "vec_id", "embedding",
      dim = 8, nCentroids = 4)
    assert(newFlat.nonEmpty, "rebuild_due store must rebuild")
    val rebuilt = Similarity.ivfMaintenanceDecision(spark, path, "embedding").collect()(0)
    assert(!rebuilt.getAs[Boolean]("drift_due"), rebuilt.getAs[String]("reason"))
    assert(rebuilt.getAs[Long]("n_vectors") == 80L)
    // healthy store: rebuildIfNeeded is a no-op
    assert(Similarity.rebuildIvfIfNeeded(spark, path, "vec_id", "embedding",
      dim = 8, nCentroids = 4).isEmpty)
    // the re-clustered store answers queries exactly like the in-memory
    // operator over the same contents (same deterministic sampling)
    val queries = emb.limit(2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val contents = spark.read.parquet(path).drop("__cell")
    val fromStore = Similarity.queryIvfIndex(spark, path, newFlat.get, queries,
      "vec_id", "embedding", "qid", "qvec", k = 3, dim = 8, nProbe = 2)
    val inMemory = Similarity.ivfTopK(contents, queries, "vec_id", "embedding",
      "qid", "qvec", k = 3, dim = 8, nCentroids = 4, nProbe = 2)
    assert(fromStore.collect().map(_.toSeq).toSet == inMemory.collect().map(_.toSeq).toSet)
  }

  test("buildIvfIndex over an existing store: the parallel index write never wipes _driftbase") {
    val emb = tinyVectors
    val path = java.nio.file.Files.createTempDirectory("graft_ivfrebuildover").toString + "/idx"
    val c0 = Similarity.buildIvfIndex(emb, path, "vec_id", "embedding", dim = 8, nCentroids = 4)
    Similarity.appendIvfIndex(emb.select((col("vec_id") + 100L).as("vec_id"), col("embedding")),
      path, c0, "embedding", dim = 8, batchId = "old1")
    // rebuilt over the prior store, several times: each build must
    // leave a fresh store (no prior batch) WITH its drift snapshot
    (1 to 3).foreach { i =>
      Similarity.buildIvfIndex(emb, path, "vec_id", "embedding", dim = 8, nCentroids = 4)
      Seq("dims", "scalar").foreach(r => assert(
        new java.io.File(s"$path/_driftbase/$r").isDirectory, s"build $i lost _driftbase/$r"))
      assert(!new java.io.File(s"$path/_commits").exists(), s"build $i kept the prior store's markers")
      assert(spark.read.parquet(path).count() == 40L, s"build $i")
      val d = Similarity.ivfMaintenanceDecision(spark, path, "embedding").collect()(0)
      assert(d.getAs[String]("reason") == "healthy", s"build $i: ${d.getAs[String]("reason")}")
      assert(!d.getAs[Double]("centroid_cosine").isNaN, s"build $i: drift unmeasured")
    }
  }

  test("rebuildIvfIndex crash property: retry converges at every step boundary; replay ledger survives the rebuild") {
    val emb = tinyVectors
    val root = java.nio.file.Files.createTempDirectory("graft_ivfrebuild").toString
    val basePath = s"$root/base"
    val centroids = Similarity.buildIvfIndex(emb.filter(col("vec_id") < 30), basePath,
      "vec_id", "embedding", dim = 8, nCentroids = 4)
    // an applied named batch whose replay protection must OUTLIVE the
    // rebuild (the stream/append history does not reset — maintenance,
    // not a fresh build)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 30), basePath, centroids,
      "embedding", dim = 8, batchId = "crawlA")

    // the converged target: a clean rebuild of a pristine copy
    val cleanPath = s"$root/clean"; copyStore(basePath, cleanPath)
    Similarity.rebuildIvfIndex(spark, cleanPath, "vec_id", "embedding", dim = 8, nCentroids = 4)
    val want = cellRel(cleanPath)
    assert(want.size == 40)

    val stepNames = Similarity.rebuildIvfSteps(spark, cleanPath, "vec_id", "embedding",
      8, 4, 42L, None)._2.map(_._1)
    (0 to stepNames.length).foreach { k =>
      val p = s"$root/k$k"; copyStore(basePath, p)
      Similarity.rebuildIvfSteps(spark, p, "vec_id", "embedding", 8, 4, 42L, None)
        ._2.take(k).foreach(_._2())
      // health probe stays readable in every crash state
      val st = Similarity.ivfStoreStats(spark, p).collect()(0)
      assert(st.getAs[Long]("n_vectors") == 40L, s"crash at step $k: stats unreadable/wrong")
      // the retry converges (same ids -> same deterministic sample)
      Similarity.rebuildIvfIndex(spark, p, "vec_id", "embedding", dim = 8, nCentroids = 4)
      assert(cellRel(p) == want, s"crash at step $k (${stepNames.take(k).lastOption}): diverged")
      assert(!new java.io.File(p + "__rebuild").exists(), s"crash at step $k: rebuild dir leaked")
      assert(!new java.io.File(p + "__old").exists(), s"crash at step $k: old dir leaked")
      assert(!new java.io.File(s"$p/_ready").exists(), s"crash at step $k: ready marker leaked")
      // replay protection survived the rebuild: re-using the applied id
      // with different content refuses LOUDLY — via the carried marker's
      // content check, or the carried ledger if the marker aged out
      val ex = intercept[java.io.IOException] {
        Similarity.appendIvfIndex(emb.limit(1), p, centroids, "embedding",
          dim = 8, batchId = "crawlA")
      }
      assert(ex.getMessage.contains("already applied") ||
        ex.getMessage.contains("DIFFERENT content"), s"crash at step $k: replay history lost")
    }
  }
}
