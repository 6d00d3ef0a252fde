package graft.operators

import graft.functions.{TopKAggregate, TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetSchemas

/** Keyword search over the document corpus: the inverted-index
  * term-frequency relation and BM25-ranked retrieval — the text-side
  * complement to the embedding ANN stack (reference eel has no search
  * operator; this is training-data-pipeline surface: quality-probe
  * queries, targeted corpus slicing, contamination spot-checks).
  *
  * Scale shape: the corpus is tokenized map-side and filtered to the
  * query terms BEFORE any shuffle (a handful of terms → the exchange
  * carries only matching postings, a tiny fraction of the token
  * stream). Per-term document frequencies are a second aggregate of
  * that same small relation, broadcast back (≤ |terms| rows). Ranking
  * is the bounded-heap [[TopKAggregate]] — each map task emits at most
  * k postings per term into the final shuffle, never the whole posting
  * list (a window formulation would shuffle every posting of a common
  * term — exactly the skew that kills at 100 TB).
  */
object Search {

  /** Inverted-index postings for `terms`: one row per (term, doc)
    * with the term frequency and the document length.
    * Output: (term, idCol, tf, doc_len).
    *
    * A doc whose text contains no query term as a SUBSTRING cannot
    * contain it as a token, so a cheap `contains` conjunction-of-ORs
    * prefilter skips tokenize+explode for the (at 100 TB, vast)
    * majority of docs; the exact token filter after explode keeps the
    * semantics (substring hits like "join" in "joined" are dropped
    * there). Terms must be lowercase — tokens are normText-lowercased,
    * so a mixed-case term could never match anyway. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "at least one query term")
    require(terms.forall(t => t == t.toLowerCase), "query terms must be lowercase")
    val mayMatch = terms.map(t => lower(col(textCol)).contains(t)).reduce(_ || _)
    docs
      .filter(mayMatch)
      .select(col(idCol), T.tokenCount(col(textCol)).cast("long").as("doc_len"),
        explode(T.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"), col(idCol), col("doc_len"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Top-k docs per term by raw term frequency (ties → smaller id) —
    * the integer-exact retrieval core, engine-reproducible as-is.
    * Output: (term, idCol, tf, df, rank); df = docs containing term. */
  def searchTopK(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol, terms)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ranked = tf
      .groupBy(col("term"))
      // tf ≤ doc length < 2^53: the long→double score is exact, so
      // heap order == integer order; tie-break = smaller id
      .agg(TopKAggregate.topK(col("tf").cast("double"), col(idCol).cast("long"), k).as("__top"))
      .select(col("term"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("term"), col("__e.id").as(idCol), col("__e.score").cast("long").as("tf"),
        (col("__r") + 1).cast("int").as("rank"))
    ranked.join(broadcast(dfreq), "term")
      .select(col("term"), col(idCol), col("tf"), col("df"), col("rank"))
  }

  /** BM25-ranked retrieval (Robertson/Sparck Jones; the Lucene-default
    * scoring): idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) summed
    * implicitly per single-term query, top-k per term. log() is
    * transcendental so this is the benched production scorer — the
    * integer-exact [[searchTopK]] relation is the oracle-gated twin.
    * Output: (term, idCol, score, rank). */
  /** Per-(term, doc) UNROUNDED BM25 scores — the shared scoring core
    * of [[bm25TopK]] (per-term ranking) and [[rankedTopK]] (per-doc
    * ranking). Output: (term, idCol, score). */
  private def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                         terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol, terms)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("__n"),
      avg(T.tokenCount(col(textCol)).cast("double")).as("__avgdl"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .select(col("term"), col(idCol),
        (log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doc_len") / col("__avgdl"))))
          .as("score"))
  }

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = bm25Scores(docs, idCol, textCol, terms, k1, b)
    scored.groupBy(col("term"))
      .agg(TopKAggregate.topK(col("score"), col(idCol).cast("long"), k).as("__top"))
      .select(col("term"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("term"), col("__e.id").as(idCol),
        round(col("__e.score"), 6).as("score"), (col("__r") + 1).cast("int").as("rank"))
  }

  /** Positional phrase search over the token stream: every occurrence
    * of the exact k-token `phrase` (adjacent tokens, in order) — the
    * retrieval depth the reference delegates to Elasticsearch's
    * match_phrase (eel-elasticsearch), re-expressed relationally.
    *
    * The diagonal trick (the maximalSpans recipe): a token occurrence
    * of phrase-slot i at position p lies on diagonal p − i; a phrase
    * match starting at p0 is exactly a diagonal holding ALL k distinct
    * slots. No self-join chain of length k, no window over the token
    * stream — one broadcast join with the k-row slot relation and one
    * count-distinct aggregate. A term filling several slots ("the …
    * the") just lands on several diagonals.
    *
    * Scale shape: the conjunction-of-contains prefilter skips
    * tokenize+explode for every doc missing any term as a substring
    * (at 100 TB the vast majority); after the slot join the exchange
    * carries only (id, diagonal, slot) longs for matching occurrences
    * — never text, never non-matching tokens. The per-(doc, diagonal)
    * group is bounded by the phrase length, so there is no skew.
    * Output: (idCol, pos) — one row per occurrence, pos = 0-based
    * token index of the phrase start. */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(t => t.nonEmpty && t == t.toLowerCase),
      "phrase terms must be lowercase")
    val mayMatch = phrase.distinct.map(t => lower(col(textCol)).contains(t)).reduce(_ && _)
    val occ = docs.filter(mayMatch)
      .select(col(idCol), posexplode(T.tokens(col(textCol))).as(Seq("__pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
    phraseFromOccurrences(occ, idCol, phrase)
  }

  /** The diagonal-trick core over an occurrence relation
    * (idCol, __pos, term) holding the phrase terms' occurrences —
    * shared by [[phraseSearch]] (occurrences tokenized from text) and
    * [[phraseSearchIndexed]] (occurrences read from the positional
    * store). */
  private def phraseFromOccurrences(occ: DataFrame, idCol: String,
                                    phrase: Seq[String]): DataFrame = {
    val slotDf = occ.sparkSession.createDataFrame(phrase.zipWithIndex)
      .toDF("term", "__slot")
    occ.join(broadcast(slotDf), "term")
      .filter(col("__pos") >= col("__slot"))
      .groupBy(col(idCol), (col("__pos") - col("__slot")).cast("long").as("pos"))
      .agg(count_distinct(col("__slot")).as("__hits"))
      .filter(col("__hits") === phrase.length)
      .select(col(idCol), col("pos"))
  }

  /** Proximity retrieval ("slop" matching, the other half of the
    * Elasticsearch surface [[phraseSearch]] covers): for every doc
    * containing ALL `terms` as tokens, the length of the SMALLEST
    * token window holding at least one occurrence of each — 3 means
    * the terms appear adjacent-ish, doc_len means they merely co-occur.
    * The classic minimal-covering-window, relationally: scanning
    * occurrences in token order, a window ENDING at position p starts
    * at the minimum over terms of "latest occurrence of that term at
    * or before p" (one conditional running max per term — k window
    * columns over ONE doc-partitioned sort, valid only when every term
    * has been seen); the answer is the min over end positions. All
    * integer arithmetic.
    *
    * Scale shape: same as [[phraseSearch]] — contains-prefilter, then
    * the exchange carries (id, pos, term) for query-term occurrences
    * only; the window partition is one doc's own occurrences, bounded
    * by doc length (the keyphrase anti-window exemption: the
    * invariant targets unbounded groups).
    * Output: (idCol, window_len), docs with all terms only. */
  def proximityWindow(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      "terms must be lowercase")
    val mayMatch = terms.map(t => lower(col(textCol)).contains(t)).reduce(_ && _)
    val occ = docs.filter(mayMatch)
      .select(col(idCol), posexplode(T.tokens(col(textCol))).as(Seq("__pos", "__term")))
      .filter(col("__term").isin(terms: _*))
    windowFromOccurrences(occ, idCol, terms)
  }

  /** The minimal-covering-window core over an occurrence relation
    * (idCol, __pos, __term) — shared by [[proximityWindow]] and
    * [[proximityWindowIndexed]]. */
  private def windowFromOccurrences(occ: DataFrame, idCol: String,
                                    terms: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lastCols = terms.indices.map { i =>
      max(when(col("__term") === terms(i), col("__pos"))).over(w).as(s"__l$i")
    }
    val withLast = occ.select(col(idCol) +: col("__pos") +: lastCols: _*)
    val allSeen = terms.indices.map(i => col(s"__l$i").isNotNull).reduce(_ && _)
    // least() skips nulls, so gate it: a window only exists once every
    // term has occurred at least once before this position
    val earliest =
      if (terms.size == 1) col("__l0") // least() requires >= 2 args
      else least(terms.indices.map(i => col(s"__l$i")): _*)
    val winLen = when(allSeen, col("__pos") - earliest + 1)
    withLast.select(col(idCol), winLen.as("__wl"))
      .groupBy(col(idCol))
      .agg(min(col("__wl")).cast("long").as("window_len"))
      .filter(col("window_len").isNotNull)
  }

  /** Persist the inverted index — the text-side analogue of the
    * persisted IVF store ([[graft.operators.Similarity.buildIvfIndex]]
    * family): at 100 TB the corpus is tokenized ONCE and every later
    * query reads only its terms' file slice instead of re-scanning
    * text. Postings (term, id, tf, doc_len) are partitioned by a
    * term-HASH bucket (the Lucene shard-by-term-hash shape — term
    * cardinality is unbounded, so the partition key is
    * pmod(xxhash64(term), nBuckets); a query's bucket set is ≤ |terms|
    * values applied as a STATIC partition filter, the queryIvfIndex
    * discipline). Alongside, `stats` holds the EXACT INTEGER corpus
    * aggregates (n_docs, total_tokens, n_buckets): BM25's N and avgdl
    * derive from them bit-identically to the from-scratch scorer
    * (avgdl = total_tokens/n_docs — the same exact-integer-sum /
    * count division [[bm25TopK]]'s avg() performs), so the index path
    * changes WHICH FILES are read, never the relation.
    *
    * Stats are a PURE FUNCTION of the postings (n_docs = indexed
    * docs, total_tokens = Σ doc_len over distinct docs) — that is
    * what makes every maintenance operation crash-recoverable by
    * recomputation instead of error-prone ledger arithmetic. The one
    * contract this sets: NULL-text docs are not indexed and do not
    * count toward N (an index cannot see them; empty-text docs DO
    * index — their single empty token keeps them counted, matching
    * the scorer). The whole corpus is tokenized exactly once: the
    * cached occurrence projection feeds positions, postings (a
    * groupBy of it), the `docs` sidecar and stats.
    *
    * Two more relations round out the store. `docs` is the (id,
    * doc_len) per-document sidecar (the Lucene norms file): O(n_docs)
    * rows that make delete's victim discovery and every stats
    * recomputation O(docs), never O(postings). `stats` also carries
    * an `epoch`, bumped by each [[compactPostingsIndex]]: tombstones
    * are stamped with the epoch they were written under, and the
    * query path applies only CURRENT-epoch tombstones — so a compact
    * that crashed after its stats swap but before clearing `deleted/`
    * leaves stale tombstones the query provably ignores instead of
    * silently double-subtracting from N/avgdl. */
  def buildPostingsIndex(docs: DataFrame, path: String, idCol: String,
                         textCol: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val fs = fsOf(docs.sparkSession, path)
    // a build DEFINES a fresh store, so a rebuild-in-place must
    // neutralize every piece of maintenance state the prior store
    // left. Two mechanisms, both safe at every crash point:
    //  - the new stats epoch CONTINUES past the prior store's (+1
    //    from whatever is readable), so stale tombstones can never
    //    match the rebuilt epoch — even before the clear below runs;
    //  - tombstones / commit markers / staging / swap debris are
    //    cleared AFTER the new relations land, never before: a build
    //    that fails at analysis (bad column, missing source) must
    //    leave the old store fully intact — clearing first would have
    //    resurrected taken-down docs and re-applied replayed batches
    //    on a store that never got rebuilt. A crash BETWEEN the
    //    writes and the clears is the torn-build state whose
    //    documented recovery is re-running the build.
    val epoch = priorEpoch(docs.sparkSession, fs, path) + 1
    val occ = occurrences(docs, idCol, textCol, nBuckets).cache()
    try {
      occ.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("__bucket").parquet(s"$path/positions")
      postingsFromOccurrences(occ, idCol, nBuckets)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("__bucket").parquet(s"$path/postings")
      docLens(occ, idCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/docs")
      statsFromDocLens(ParquetSchemas.read(docs.sparkSession, s"$path/docs"), nBuckets, epoch)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/stats")
    } finally { occ.unpersist(); () }
    Seq("deleted", "_commits", "_staging").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    StoreProtocol.clearLedger(fs, path) // replay protection resets with _commits
    Seq("postings", "positions", "docs", "stats").foreach { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/${rel}__old"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/${rel}__staging"), true)
    }
  }

  /** Best-effort epoch of whatever store previously lived at `path`
    * (falling back to the preserved `stats__old` of a torn swap), or
    * -1 when none is readable — a rebuild continues past it so no
    * stale tombstone can ever match the new epoch. */
  private def priorEpoch(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem, path: String): Long = {
    def epochAt(p: String): Option[Long] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(p))) None
      else scala.util.Try(
        ParquetSchemas.read(spark, p).collect()(0).getAs[Long]("epoch")).toOption
    epochAt(s"$path/stats").orElse(epochAt(s"$path/stats__old")).getOrElse(-1L)
  }

  /** One row per token occurrence (idCol, __pos, term, __bucket) —
    * the single tokenize pass everything else derives from. The
    * positional half of the index stores it verbatim: what lets
    * [[phraseSearchIndexed]] / [[proximityWindowIndexed]] answer
    * positional queries without re-tokenizing text (a Lucene index
    * stores positions for exactly this reason). Clustered by bucket
    * before the partitioned write so each bucket dir holds one file
    * instead of a sliver from every shuffle partition; at 100 TB add
    * a salt column to the repartition for intra-bucket write
    * parallelism (reads are unaffected — pruning is on the dir
    * value). */
  private def occurrences(docs: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int): DataFrame =
    docs
      .select(col(idCol), posexplode(T.tokens(col(textCol))).as(Seq("__pos", "term")))
      .withColumn("__bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .repartition(nBuckets, col("__bucket"))

  /** (term, id, doc_len, tf, __bucket) derived from the occurrence
    * projection: tf = occurrences per (term, doc), doc_len = the
    * doc's occurrence count (== tokenCount — explode of the same
    * token array). */
  private def postingsFromOccurrences(occ: DataFrame, idCol: String,
                                      nBuckets: Int): DataFrame =
    occ.groupBy(col("term"), col(idCol), col("__bucket"))
      .agg(count(lit(1)).as("tf"))
      .join(docLens(occ, idCol), idCol)
      .select(col("term"), col(idCol), col("doc_len"), col("tf"), col("__bucket"))
      .repartition(nBuckets, col("__bucket"))

  private def docLens(occ: DataFrame, idCol: String): DataFrame =
    occ.groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("doc_len"))

  private def statsFromDocLens(dl: DataFrame, nBuckets: Int, epoch: Long): DataFrame =
    dl.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("doc_len")), lit(0L)).as("total_tokens"))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("epoch", lit(epoch))

  private def statsRow(spark: org.apache.spark.sql.SparkSession,
                       path: String): org.apache.spark.sql.Row =
    ParquetSchemas.read(spark, s"$path/stats").collect()(0)

  /** Append a crawl batch to a persisted postings index — the
    * [[graft.operators.Similarity.appendIvfIndex]] shape for text:
    * delta postings/positions/docs land in their bucket partitions
    * (old rows never re-read, O(batch)) and the integer stats row is
    * advanced by the delta's exact counts. Contract: delta ids are
    * previously unseen (the append-only crawl contract shared by the
    * incremental dedup stores); re-crawls go through a rebuild.
    *
    * CRASH-RETRY-SAFE via the [[StoreProtocol]] staged commit: the
    * delta lands under `_staging/<batchId>/`, its files are renamed
    * into the live relations with a `b<batchId>-` prefix, the stats
    * row is swapped in last, and a `_commits/<batchId>` marker seals
    * the batch. Re-running a COMMITTED batch is a no-op (Structured
    * Streaming's stable batch ids make the streaming twin
    * exactly-once on the store); re-running after a crash first
    * undoes the half-applied move (delete the batch's prefixed files,
    * recompute stats from the `docs` sidecar — a pure function of
    * the data, never ledger arithmetic) and then applies the batch
    * once. Single-writer contract: appends never run concurrently
    * with other maintenance; a query BETWEEN a crash and the retry
    * may see a torn batch — detection and repair happen at the next
    * maintenance entry, which is what the retry is.
    *
    * Note each batch adds one file per touched bucket partition;
    * [[compactPostingsIndex]] is also the file-count compaction. */
  def appendPostingsIndex(delta: DataFrame, path: String, idCol: String,
                          textCol: String, batchId: String,
                          streamBatch: Boolean = false): Unit = {
    StoreProtocol.requireBatchId(batchId)
    // all-digit ids (and legacy stream<N>) are the stream twins'
    // monotone sequence — a manual append with a large numeric id
    // would raise the ledger's high-water mark past the live stream's
    // next checkpoint batch and wedge it permanently
    if (!streamBatch) StoreProtocol.requireManualBatchId(batchId)
    val spark = delta.sparkSession
    val fs = fsOf(spark, path)
    if (StoreProtocol.isCommitted(fs, path, batchId)) {
      // replayed batch: exactly-once no-op — but only after verifying
      // the redelivery carries the SAME content the marker sealed (a
      // reset checkpoint re-batches the source; its recycled id may
      // now hold more rows, and a bare no-op would drop them)
      StoreProtocol.requireSameReplay(fs, path, batchId,
        StoreProtocol.contentFingerprint(delta.select(col(idCol), col(textCol))))
      // drop any leftover staging from a crash between the marker and
      // the staging cleanup
      fs.delete(StoreProtocol.stagingDir(path, batchId), true)
      return
    }
    repairAppends(spark, path)
    // self-heal a compact that crashed between a relation's aside and
    // its swap-in (stats missing, stats__old present): without this a
    // pure-streaming store would hard-fail at statsRow on EVERY
    // subsequent append until an operator manually re-ran compact —
    // repairSwaps is idempotent, matching compactPostingsIndex's entry
    repairSwaps(fs, path, Seq("postings", "positions", "docs", "stats"))
    // bound the marker set on the path append-only stores actually
    // take (compact alone would never run for them); retention slack
    // keeps every recently-redeliverable batch protected, and the
    // fold-before-prune inside persists every marker's id to the
    // `_applied` ledger first
    StoreProtocol.pruneCommitMarkers(fs, path)
    // a re-used batch id whose marker aged out must fail LOUDLY, not
    // silently apply twice: the ledger survives marker pruning AND the
    // compact that folds away the prefixed files; the file probe stays
    // as defense-in-depth for a store whose ledger was hand-deleted
    if (StoreProtocol.wasApplied(fs, path, batchId) ||
        Seq("positions", "postings", "docs").exists(rel => StoreProtocol.hasBatchFiles(
          fs, new org.apache.hadoop.fs.Path(s"$path/$rel"), batchId)))
      throw new java.io.IOException(s"append: batch id '$batchId' was already applied " +
        "under a since-pruned marker; re-using old batch ids is not supported")
    appendPostingsSteps(delta, path, idCol, textCol, batchId).foreach(_._2())
  }

  /** The append protocol as named steps — package-visible so the
    * crash-property spec can kill the run at EVERY step boundary and
    * prove the retry repairs it. Order matters: all staging writes
    * precede any live mutation; file moves precede the stats swap;
    * the commit marker seals; staging cleanup is cosmetic. */
  private[graft] def appendPostingsSteps(delta: DataFrame, path: String, idCol: String,
                                         textCol: String, batchId: String)
      : Seq[(String, () => Unit)] = {
    val spark = delta.sparkSession
    val fs = fsOf(spark, path)
    val st = statsRow(spark, path)
    val nBuckets = st.getAs[Int]("n_buckets")
    val stage = StoreProtocol.stagingDir(path, batchId).toString
    // cached on first use, shared by every staging step — the delta
    // is tokenized exactly once; released as soon as the last
    // occ-consuming step finishes (an in-JVM abort before then leaks
    // one cached batch relation until GC — the same bound as the
    // process-death crash the protocol is built for)
    var occRef: Option[DataFrame] = None
    def occ: DataFrame = occRef.getOrElse {
      val d = occurrences(delta, idCol, textCol, nBuckets).cache()
      occRef = Some(d); d
    }
    Seq(
      "stage-positions" -> (() =>
        occ.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__bucket").parquet(s"$stage/positions")),
      "stage-postings" -> (() =>
        postingsFromOccurrences(occ, idCol, nBuckets)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__bucket").parquet(s"$stage/postings")),
      "stage-docs" -> (() => {
        docLens(occ, idCol)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$stage/docs")
        occRef.foreach(_.unpersist()) // last occ consumer
        ()
      }),
      "stage-stats" -> (() => {
        val d = ParquetSchemas.read(spark, s"$stage/docs")
          .agg(count(lit(1)).cast("long").as("n"),
            coalesce(sum(col("doc_len")), lit(0L)).as("t")).collect()(0)
        spark.createDataFrame(Seq((st.getAs[Long]("n_docs") + d.getLong(0),
            st.getAs[Long]("total_tokens") + d.getLong(1), nBuckets,
            st.getAs[Long]("epoch"))))
          .toDF("n_docs", "total_tokens", "n_buckets", "epoch")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$stage/stats")
      }),
      "move-positions" -> (() => StoreProtocol.moveStagedFiles(fs,
        new org.apache.hadoop.fs.Path(s"$stage/positions"),
        new org.apache.hadoop.fs.Path(s"$path/positions"), batchId)),
      "move-postings" -> (() => StoreProtocol.moveStagedFiles(fs,
        new org.apache.hadoop.fs.Path(s"$stage/postings"),
        new org.apache.hadoop.fs.Path(s"$path/postings"), batchId)),
      "move-docs" -> (() => StoreProtocol.moveStagedFiles(fs,
        new org.apache.hadoop.fs.Path(s"$stage/docs"),
        new org.apache.hadoop.fs.Path(s"$path/docs"), batchId)),
    ) ++ swapSteps(fs, path, "stats", staging = s"$stage/stats") ++ Seq(
      "mark-commit" -> (() => StoreProtocol.markCommitted(fs, path, batchId,
        Some(StoreProtocol.contentFingerprint(delta.select(col(idCol), col(textCol)))))),
      "clean-staging" -> (() => { fs.delete(new org.apache.hadoop.fs.Path(stage), true); () }),
    )
  }

  /** Undo every half-applied (staged but uncommitted) append: delete
    * the batch's prefixed files from the live relations, restore the
    * stats swap, and — when the crashed batch had progressed past
    * staging — rewrite stats from the `docs` sidecar (O(n_docs); the
    * pure-function contract makes this recomputation, not ledger
    * arithmetic). Committed batches' leftover staging is dropped.
    * Runs at every maintenance entry (append/delete/compact). */
  private[graft] def repairAppends(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Unit = {
    val fs = fsOf(spark, path)
    StoreProtocol.stagedBatches(fs, path).foreach { batchId =>
      if (StoreProtocol.isCommitted(fs, path, batchId)) {
        fs.delete(StoreProtocol.stagingDir(path, batchId), true)
      } else {
        // a stats __old aside means the crashed batch reached its
        // stats swap — the live row may already include the batch
        val statsSwapBegun =
          fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats__old"))
        repairSwaps(fs, path, Seq("stats"))
        val touched = Seq("positions", "postings", "docs").map { rel =>
          StoreProtocol.deleteBatchFiles(fs,
            new org.apache.hadoop.fs.Path(s"$path/$rel"), batchId)
        }.exists(identity)
        if (touched || statsSwapBegun) {
          val st = statsRow(spark, path)
          statsFromDocLens(ParquetSchemas.read(spark, s"$path/docs"),
              st.getAs[Int]("n_buckets"), st.getAs[Long]("epoch"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$path/stats__staging")
          swapSteps(fs, path, "stats").foreach(_._2())
        }
        fs.delete(StoreProtocol.stagingDir(path, batchId), true)
      }
    }
  }

  /** TOMBSTONE-delete documents from a persisted postings index — the
    * retire path for text retrieval (takedowns, dedup retraction). An
    * inverted index cannot delete in place cheaply: a doc's terms hash
    * into ~every bucket, so a touched-partition rewrite (the
    * [[graft.operators.Similarity.deleteFromIvfIndex]] recipe) would
    * be O(index). The honest design is Lucene's delete-then-merge:
    * record (id, doc_len) tombstones O(delete batch) now, filter at
    * query time, and fold them in physically at the next
    * [[compactPostingsIndex]].
    *
    * The tombstone rows carry doc_len so the query can correct N and
    * avgdl EXACTLY (integer subtraction from the stats row) — after a
    * delete, results are bit-identical to a fresh build of the
    * survivors (spec-pinned, gated as text_search_delete). Victims
    * are discovered from the `docs` SIDECAR (O(n_docs) rows — never a
    * scan of the postings relation, which is O(index) I/O per delete
    * batch at 100 TB) semi-joined with the broadcast delete set;
    * already-tombstoned and never-indexed ids are skipped, so
    * re-running a delete is a no-op (at-least-once safe). Tombstones
    * are stamped with the current stats epoch (see
    * [[buildPostingsIndex]]). Returns the number of newly tombstoned
    * docs. */
  def deleteFromPostingsIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                              deleteIds: DataFrame, idCol: String): Long = {
    repairAppends(spark, path)
    // same entry self-heal as append: a compact crashed mid-swap must
    // not hard-fail the statsRow read below until a manual re-compact
    repairSwaps(fsOf(spark, path), path, Seq("postings", "positions", "docs", "stats"))
    val epoch = statsRow(spark, path).getAs[Long]("epoch")
    val dels = broadcast(deleteIds.select(col(idCol)).distinct())
    val existing = currentTombstones(spark, path, epoch)
    val victims0 = victimRelation(spark, path)
      .join(dels, Seq(idCol), "left_semi")
    val victims = existing.fold(victims0)(ex =>
        victims0.join(broadcast(ex.select(col(idCol))), Seq(idCol), "left_anti"))
      .withColumn("__epoch", lit(epoch))
      .localCheckpoint(true) // seal before writing into the dir it may have read
    val n = victims.count()
    if (n > 0)
      victims.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$path/deleted")
    n
  }

  /** Delete's victim source: the (id, doc_len) sidecar — exposed so
    * the spec can pin that victim discovery scans `docs/`, not the
    * postings relation. */
  private[graft] def victimRelation(spark: org.apache.spark.sql.SparkSession,
                                    path: String): DataFrame =
    ParquetSchemas.read(spark, s"$path/docs")

  /** The filesystem OWNING `path` — never the default FS: an index on
    * s3a:// or hdfs:// with a file:// default would otherwise probe
    * tombstones and run swaps against the wrong filesystem (the
    * Compact.scala / FilePattern.scala pattern). */
  private def fsOf(spark: org.apache.spark.sql.SparkSession,
                   path: String): org.apache.hadoop.fs.FileSystem =
    StoreProtocol.fsOf(spark, path)

  private def tombstones(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/deleted")
    if (fsOf(spark, path).exists(p)) Some(ParquetSchemas.read(spark, p.toString)) else None
  }

  /** Tombstones the query path must apply: only those written under
    * the CURRENT stats epoch. A compact that crashed after its stats
    * swap (epoch bumped, survivors-only stats) but before clearing
    * `deleted/` leaves stale-epoch tombstones — already folded into
    * the stats, so applying them would double-subtract. The epoch
    * filter makes that crash window read-correct instead of silently
    * wrong. */
  private def currentTombstones(spark: org.apache.spark.sql.SparkSession,
                                path: String, epoch: Long): Option[DataFrame] =
    tombstones(spark, path).map(_.filter(col("__epoch") === epoch))

  /** Preserve-then-replace directory swap as named steps: the live
    * dir is renamed aside (never deleted first — a crash can then
    * always be repaired from `<name>__old`), staging renamed in, the
    * old copy dropped last. Rename failures throw instead of silently
    * leaving a half-swapped store. The aside step SELF-REPAIRS any
    * leftover `__old` (live present → a completed prior swap's
    * leftover, dropped; live missing → a crashed prior swap, restored
    * first), so the invariant "swapping never destroys the only copy"
    * is structural, not dependent on a prior [[repairSwaps]] call. */
  private def swapSteps(fs: org.apache.hadoop.fs.FileSystem, base: String,
                        name: String, staging: String = ""): Seq[(String, () => Unit)] = {
    val live = new org.apache.hadoop.fs.Path(s"$base/$name")
    val old = new org.apache.hadoop.fs.Path(s"$base/${name}__old")
    val stagingPath = new org.apache.hadoop.fs.Path(
      if (staging.isEmpty) s"$base/${name}__staging" else staging)
    Seq(
      s"$name-aside" -> { () =>
        if (fs.exists(old)) {
          if (fs.exists(live)) { fs.delete(old, true); () }
          else if (!fs.rename(old, live))
            throw new java.io.IOException(s"swap: restore $old -> $live failed")
        }
        if (fs.exists(live) && !fs.rename(live, old))
          throw new java.io.IOException(s"swap: rename $live -> $old failed")
      },
      s"$name-swap-in" -> { () =>
        if (!fs.rename(stagingPath, live)) {
          if (fs.exists(old)) fs.rename(old, live) // best-effort restore
          throw new java.io.IOException(s"swap: rename $stagingPath -> $live failed")
        }
      },
      s"$name-drop-old" -> { () =>
        if (fs.exists(old)) { fs.delete(old, true); () }
      },
    )
  }

  /** Roll half-finished swaps back to a readable state: a live dir
    * missing with its `__old` present means a crash hit between the
    * two renames — restore the old copy (the rewrite is recomputed
    * from data, so rolling back never loses the compaction, only
    * defers it); an `__old` next to a live dir is a completed swap's
    * leftover — drop it. */
  private def repairSwaps(fs: org.apache.hadoop.fs.FileSystem, base: String,
                          names: Seq[String]): Unit =
    names.foreach { name =>
      val live = new org.apache.hadoop.fs.Path(s"$base/$name")
      val old = new org.apache.hadoop.fs.Path(s"$base/${name}__old")
      if (fs.exists(old)) {
        if (!fs.exists(live)) { fs.rename(old, live); () }
        else { fs.delete(old, true); () }
      }
    }

  /** Fold tombstones into the postings physically — the merge half of
    * the delete design: postings/positions/docs rewritten minus the
    * tombstoned docs, stats RECOMPUTED from the staged docs sidecar
    * (a pure function of the data — see [[buildPostingsIndex]] — so
    * no ledger arithmetic can drift or double-apply) with the EPOCH
    * BUMPED, the tombstone set cleared last; queries afterwards read
    * a clean index (postings shrink, spec proves results unchanged).
    * STOP-THE-WORLD maintenance like an IVF re-cluster: run without
    * concurrent queries. Crash recovery = re-run while `deleted/`
    * still exists: entry first repairs half-applied appends and rolls
    * back any half-swapped dir from its preserved `__old` copy, then
    * every step recomputes from data — the anti-join of
    * already-compacted postings is a row-identical no-op and the
    * recomputed stats land on the same integers, so the re-run is
    * idempotent at every crash point (property-pinned in SearchSpec:
    * the run is killed at EVERY step boundary and the retry must
    * converge; the epoch bump keeps even the pre-retry QUERY correct
    * in the stats-swapped-but-not-cleared window). Contract: the
    * surviving corpus must be non-empty — a store compacted to zero
    * docs leaves no postings files to infer a schema from (delete the
    * store instead of retiring its last document). */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    repairAppends(spark, path)
    repairSwaps(fs, path, Seq("postings", "positions", "docs", "stats"))
    if (tombstones(spark, path).isDefined) {
      val steps = compactPostingsSteps(spark, path)
      // guide §2.6: the three anti-join staging rewrites read disjoint
      // live relations and write disjoint __staging dirs — run them
      // concurrently so their task tails back-fill each other instead
      // of three sequential per-job floors. stage-stats reads
      // docs__staging, and the swaps are strictly ordered (stats last
      // is the interim-query-correctness window), so everything after
      // the independent group stays sequential. Crash-safety is
      // UNCHANGED: a partial concurrent group is one of the states the
      // sequential kill-at-every-boundary property already converges
      // from (each staging write is an idempotent Overwrite recomputed
      // from live data), and SearchSpec additionally pins convergence
      // from EVERY subset of the concurrent group.
      val concurrent = Set("stage-postings", "stage-positions", "stage-docs")
      val (group, rest) = steps.partition(s => concurrent(s._1))
      Pipeline.inParallel(group.map(_._2): _*)
      rest.foreach(_._2())
    }
  }

  /** The compact protocol as named steps (the crash-property surface,
    * like [[appendPostingsSteps]]). All four staging writes precede
    * any swap; swaps run relation-by-relation with stats LAST (until
    * the stats swap, the old stats + live tombstones still describe
    * the survivors exactly); the epoch bump neutralizes the
    * tombstones the moment the new stats land. */
  private[graft] def compactPostingsSteps(spark: org.apache.spark.sql.SparkSession,
                                          path: String): Seq[(String, () => Unit)] = {
    val fs = fsOf(spark, path)
    val st = statsRow(spark, path)
    val nBuckets = st.getAs[Int]("n_buckets")
    val epoch = st.getAs[Long]("epoch")
    val dead = tombstones(spark, path).get
    val idColName = dead.columns.head
    val deadIds = broadcast(dead.select(col(idColName)))
    Seq(
      "stage-postings" -> (() =>
        ParquetSchemas.read(spark, s"$path/postings")
          .join(deadIds, Seq(idColName), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__bucket").parquet(s"$path/postings__staging")),
      "stage-positions" -> (() =>
        ParquetSchemas.read(spark, s"$path/positions")
          .join(deadIds, Seq(idColName), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("__bucket").parquet(s"$path/positions__staging")),
      "stage-docs" -> (() =>
        ParquetSchemas.read(spark, s"$path/docs")
          .join(deadIds, Seq(idColName), "left_anti")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/docs__staging")),
      "stage-stats" -> (() =>
        statsFromDocLens(ParquetSchemas.read(spark, s"$path/docs__staging"), nBuckets, epoch + 1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/stats__staging")),
    ) ++ swapSteps(fs, path, "postings") ++ swapSteps(fs, path, "positions") ++
      swapSteps(fs, path, "docs") ++ swapSteps(fs, path, "stats") :+
      ("clear-tombstones" -> (() => {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/deleted"), true)
        // stop-the-world window: also bound the commit-marker set
        // (one per streamed batch otherwise accumulates forever);
        // only the newest batch can ever be redelivered, so it alone
        // is kept — see StoreProtocol.pruneCommitMarkers
        StoreProtocol.pruneCommitMarkers(fs, path)
      }))
  }

  /** Evidence-based compaction: fold tombstones in only when their
    * fraction of the indexed corpus exceeds `maxTombstoneFraction`
    * (every query pays an O(tombstones) correction until then — cheap
    * for a takedown batch, corrosive after months of them). Returns
    * true when a compact ran. The nightly shape: call after each
    * append/delete window; the threshold turns "compact on hope" into
    * a measured policy. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession, path: String,
                      maxTombstoneFraction: Double = 0.1): Boolean = {
    val s = postingsStoreStats(spark, path).collect()(0)
    val due = s.getAs[Double]("tombstone_fraction") > maxTombstoneFraction
    if (due) compactPostingsIndex(spark, path)
    due
  }

  /** One-row health report for a postings store — the evidence that
    * schedules [[compactPostingsIndex]] (unbounded tombstone growth
    * degrades every query silently: each pays an O(tombstones)
    * aggregate + anti-join). All O(n_docs) or file-listing work, never
    * an O(postings) scan; stays READABLE mid-crash (a half-swapped
    * stats dir falls back to its preserved `__old` copy — the
    * ivfStoreStats discipline: the health probe must answer in
    * exactly the states it exists to surface). Output: (live_docs,
    * tombstoned_docs, tombstone_fraction, total_tokens, n_buckets,
    * epoch, bytes, uncommitted_batches, replay_hw, replay_named) —
    * the last two surface the `_applied` replay ledger (high-water
    * numeric batch id, −1 when none; count of non-numeric applied
    * ids): the number an operator checks before deciding whether a
    * stream checkpoint reset can safely restart at batch 0 (it
    * cannot unless the store is rebuilt — see
    * [[graft.operators.StoreProtocol.wasApplied]]). */
  def postingsStoreStats(spark: org.apache.spark.sql.SparkSession,
                         path: String): DataFrame = {
    val fs = fsOf(spark, path)
    val st =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")) &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats__old")))
        ParquetSchemas.read(spark, s"$path/stats__old").collect()(0)
      else statsRow(spark, path)
    val epoch = st.getAs[Long]("epoch")
    val (nDel, tokDel) = currentTombstones(spark, path, epoch).fold((0L, 0L)) { t =>
      val r = t.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("doc_len")), lit(0L)).as("t")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val nDocs = st.getAs[Long]("n_docs")
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    val uncommitted = StoreProtocol.stagedBatches(fs, path)
      .count(b => !StoreProtocol.isCommitted(fs, path, b))
    val (replayHw, replayIds) = StoreProtocol.readLedger(fs, path)
    spark.createDataFrame(Seq((nDocs - nDel, nDel,
        if (nDocs == 0) 0.0 else math.rint(nDel.toDouble / nDocs * 1e6) / 1e6,
        st.getAs[Long]("total_tokens") - tokDel, st.getAs[Int]("n_buckets"),
        epoch, bytes, uncommitted.toLong, replayHw, replayIds.size.toLong)))
      .toDF("live_docs", "tombstoned_docs", "tombstone_fraction",
        "total_tokens", "n_buckets", "epoch", "bytes", "uncommitted_batches",
        "replay_hw", "replay_named")
  }

  /** BM25 retrieval against a persisted postings index (see
    * [[buildPostingsIndex]]) — output bit-identical to [[bm25TopK]]
    * over the same corpus (gate-shared oracle, the sim_ivf_index
    * argument). The query-term bucket set is evaluated through the
    * same xxhash64 expression the build used (folded on the driver —
    * no job, and no driver-side hash reimplementation to drift) and
    * applied as a static partition filter: only ≤ |terms| of the
    * nBuckets partitions are listed and read; df comes from the
    * pruned postings themselves (a term's df needs only that term's
    * rows). The builder's only eager jobs are the stats-row collect
    * and, on a tombstoned index, the tombstone-totals collect: every
    * relation schema resolves on the driver (see
    * [[org.apache.spark.sql.graftbridge.ParquetSchemas]]).
    * Output: (term, idCol, score, rank). */
  def queryPostingsIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         idCol: String, terms: Seq[String], k: Int,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame =
    indexedBm25Scores(spark, path, idCol, terms, k1, b)
      .groupBy(col("term"))
      .agg(TopKAggregate.topK(col("score"), col(idCol).cast("long"), k).as("__top"))
      .select(col("term"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("term"), col("__e.id").as(idCol),
        round(col("__e.score"), 6).as("score"), (col("__r") + 1).cast("int").as("rank"))

  /** Per-(term, doc) UNROUNDED BM25 scores served from the persisted
    * store — the index-served twin of [[bm25Scores]] and the shared
    * core of [[queryPostingsIndex]] (per-term ranking) and
    * [[rankedTopKIndexed]] (per-doc ranking); identical doubles to the
    * from-scratch scorer (N/avgdl from the exact integer stats, df
    * from the pruned postings), so every composition of it shares the
    * tokenize-at-query-time oracle. Output: (term, idCol, score). */
  private def indexedBm25Scores(spark: org.apache.spark.sql.SparkSession, path: String,
                                idCol: String, terms: Seq[String],
                                k1: Double, b: Double): DataFrame = {
    require(terms.nonEmpty, "at least one query term")
    require(terms.forall(t => t == t.toLowerCase), "query terms must be lowercase")
    val st = statsRow(spark, path)
    val nBuckets = st.getAs[Int]("n_buckets")
    val epoch = st.getAs[Long]("epoch")
    // tombstone correction (see deleteFromPostingsIndex): drop dead
    // postings after pruning and subtract the dead docs' EXACT integer
    // (count, token) totals from the stats — the corrected N/avgdl/df
    // equal a fresh build of the survivors bit-for-bit. Only
    // CURRENT-epoch tombstones apply (stale ones are already folded
    // into the stats by a compact whose clear step crashed).
    val dead = currentTombstones(spark, path, epoch)
    val (nDel, tokDel) = dead.fold((0L, 0L)) { t =>
      val r = t.agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(col("doc_len")), lit(0L)).as("t")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val nDocs = st.getAs[Long]("n_docs") - nDel
    val totalTokens = st.getAs[Long]("total_tokens") - tokDel
    val tf = prunedRelation(spark, path, "postings", idCol, terms, nBuckets, dead)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // exact-integer stats -> the same doubles the from-scratch scorer
    // sees: N as a long literal, avgdl = exact-sum / count
    val avgdl = totalTokens.toDouble / nDocs.toDouble
    tf.join(broadcast(dfreq), "term")
      .select(col("term"), col(idCol),
        (log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doc_len") / lit(avgdl))))
          .as("score"))
  }

  /** The ONE pruning discipline both query paths share (a change to
    * bucket hashing or tombstone filtering must hit BM25 and the
    * positional queries identically — they exclude the same docs or
    * silently drift): query-term buckets evaluated through the same
    * stored xxhash64 expression (a projection over a local relation,
    * which Spark folds on the driver — no job, and no driver-side hash
    * reimplementation), only those buckets' partition dirs listed and
    * read, the static partition filter kept, exact-term filtered, the
    * caller's CURRENT-epoch tombstones (`dead`, read once per query)
    * anti-joined out. */
  private def prunedRelation(spark: org.apache.spark.sql.SparkSession, path: String,
                             relation: String, idCol: String, terms: Seq[String],
                             nBuckets: Int, dead: Option[DataFrame]): DataFrame = {
    val buckets = spark.createDataFrame(terms.map(Tuple1(_))).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nBuckets.toLong)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val rel = StoreProtocol.probedRead(spark, s"$path/$relation", "__bucket", buckets)
      .filter(col("term").isin(terms: _*))
    dead.fold(rel)(t =>
      rel.join(broadcast(t.select(col(idCol))), Seq(idCol), "left_anti"))
  }

  /** Query-term occurrences from the positional store — the
    * occurrence relation every positional query consumes, WITHOUT
    * touching corpus text. */
  private def indexedOccurrences(spark: org.apache.spark.sql.SparkSession,
                                 path: String, idCol: String,
                                 terms: Seq[String]): DataFrame = {
    val st = statsRow(spark, path)
    prunedRelation(spark, path, "positions", idCol, terms, st.getAs[Int]("n_buckets"),
        currentTombstones(spark, path, st.getAs[Long]("epoch")))
      .select(col(idCol), col("__pos"), col("term"))
  }

  /** [[phraseSearch]] served from the persisted positional index —
    * same output relation (shares the text_search_phrase oracle), but
    * at 100 TB the query reads only the phrase terms' position slice
    * instead of re-tokenizing the corpus; tombstoned docs excluded
    * exactly like the BM25 path. */
  def phraseSearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                          idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(phrase.forall(t => t.nonEmpty && t == t.toLowerCase),
      "phrase terms must be lowercase")
    phraseFromOccurrences(
      indexedOccurrences(spark, path, idCol, phrase.distinct), idCol, phrase)
  }

  /** [[proximityWindow]] served from the persisted positional index —
    * same output relation (shares the text_search_proximity oracle),
    * corpus text never read. */
  def proximityWindowIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                             idCol: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      "terms must be lowercase")
    windowFromOccurrences(
      indexedOccurrences(spark, path, idCol, terms).withColumnRenamed("term", "__term"),
      idCol, terms)
  }

  /** Proximity-RANKED retrieval — the composition of [[bm25TopK]] and
    * [[proximityWindow]] that a ranked match_phrase serves (the
    * "slop boost" every production scorer ships): per-DOC relevance =
    * (Σ per-term BM25) × (1 + 1/window_len), so a doc where the terms
    * sit in one tight window outranks an equal-BM25 doc where they are
    * scattered, and docs lacking some term keep their plain BM25
    * (boost factor 1 — the window exists only when every term occurs).
    *
    * Engine-reproducibility (the text_bm25 discipline, extended to the
    * composition): the per-term scores are the bit-identical-up-to-ln
    * doubles bm25TopK gates; the per-doc total is NOT an aggregate
    * float sum but a PIVOT over the fixed term list added in listed
    * order — ((s0 + s1) + s2) is the same IEEE expression tree on both
    * engines (max() over doubles is order-free, unlike sum). The boost
    * is integer-derived (1/window_len, one exact division) and the
    * product is one IEEE multiply. Cumulative cross-engine noise stays
    * O(|terms|) ulp — see the gate entry's measured gap/boundary note.
    *
    * Scale shape: everything downstream of the contains-prefiltered
    * term postings (tiny); the pivot is a partial-agg'd groupBy on the
    * doc id; the proximity join is doc-keyed on two already-small
    * relations; final ranking is the bounded-heap [[TopKAggregate]]
    * over ONE group — k rows per map task into a single-point merge,
    * never a full sort. Output: (idCol, score, rank), rank ≤ k. */
  def rankedTopK(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    rankedFromParts(bm25Scores(docs, idCol, textCol, terms, k1, b),
      proximityWindow(docs, idCol, textCol, terms), idCol, terms, k)
  }

  /** [[rankedTopK]] served from the persisted postings + positions
    * store: per-term scores from [[indexedBm25Scores]] (identical
    * doubles to the from-scratch scorer), the proximity boost from
    * the stored occurrences — the fusion core is SHARED with
    * [[rankedTopK]], so the two paths cannot drift (the
    * phraseSearchIndexed discipline); shares the text_search_ranked
    * oracle. This completes the index-served retrieval surface:
    * tf / BM25 / phrase / proximity / ranked all answer from the
    * store without touching corpus text. */
  def rankedTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                        idCol: String, terms: Seq[String], k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    rankedFromParts(indexedBm25Scores(spark, path, idCol, terms, k1, b),
      proximityWindowIndexed(spark, path, idCol, terms), idCol, terms, k)
  }

  /** The shared BM25-pivot × slop-boost fusion of [[rankedTopK]] /
    * [[rankedTopKIndexed]]: per-term UNROUNDED scores pivoted in
    * LISTED term order (((s0+s1)+s2) — a fixed IEEE expression tree,
    * never an order-dependent float SUM), boosted by 1 + 1/window_len
    * (integer-derived, one exact division; docs lacking a term keep
    * factor 1), ranked by the single-group bounded heap. */
  private def rankedFromParts(perTerm: DataFrame, prox: DataFrame, idCol: String,
                              terms: Seq[String], k: Int): DataFrame = {
    val slots = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === t, col("score"))), lit(0.0)).as(s"__s$i")
    }
    val pivoted = perTerm.groupBy(col(idCol)).agg(slots.head, slots.tail: _*)
    val total = terms.indices.map(i => col(s"__s$i")).reduce(_ + _) // left fold: ((s0+s1)+s2)
    val scored = pivoted.select(col(idCol), total.as("__bm25"))
      .join(prox, Seq(idCol), "left")
      .select(col(idCol),
        (col("__bm25") *
          (lit(1.0) + coalesce(lit(1.0) / col("window_len"), lit(0.0)))).as("score"))
    scored
      .agg(TopKAggregate.topK(col("score"), col(idCol).cast("long"), k).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("__e.id").as(idCol), round(col("__e.score"), 6).as("score"),
        (col("__r") + 1).cast("int").as("rank"))
  }

  /** HYBRID retrieval — Reciprocal Rank Fusion (Cormack/Clarke/
    * Buettcher's RRF, the fusion every production RAG/search stack
    * runs) of the text ranking ([[rankedTopK]]: BM25 × proximity
    * boost) and the vector ranking (exact cosine against ONE query
    * embedding): score(doc) = textWeight/(rrfK + text_rank) +
    * vecWeight/(rrfK + vec_rank), an absent source contributing 0 — a
    * doc ranked well by BOTH modalities outranks a doc ranked well by
    * one, without ever comparing the incomparable raw scores. The
    * rank constant and per-source weights are the two RAG-tuning knobs
    * (Cormack et al. fix k=60; production stacks sweep both) —
    * defaults reproduce the classic unweighted fusion.
    *
    * Engine-reproducible WITHOUT rounding: both constituent rank
    * relations are integer-exact (each is its own gated operator),
    * IEEE division of a double weight by an exact positive integer is
    * ONE correctly-rounded operation — the same double on every
    * engine for ANY weight and any positive rrfK, no transcendental —
    * and the two-term sum is a fixed expression tree. Ties (symmetric
    * single-source docs at equal weights) break to the smaller id on
    * both engines.
    *
    * Scale shape: the fusion inputs are two bounded-heap top-`poolK`
    * relations (≤ poolK rows each — the corpus never reaches the
    * fusion join); the query embedding is a 1-row broadcast scalar
    * (the bm25 corpus-stats pattern, whitelisted by design). At
    * index-serving scale use [[hybridTopKIndexed]].
    * Output: (idCol, score, rank ≤ k). */
  def hybridTopK(corpus: DataFrame, idCol: String, textCol: String, vecCol: String,
                 queryVec: DataFrame, terms: Seq[String], k: Int,
                 poolK: Int = 20, rrfK: Int = 60,
                 textWeight: Double = 1.0, vecWeight: Double = 1.0,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val txt = rankedTopK(corpus, idCol, textCol, terms, poolK, k1, b)
      .select(col(idCol), col("rank").as("__tr"))
    val vec = vectorTopK(corpus, idCol, vecCol, queryVec, poolK)
      .select(col(idCol), col("rank").as("__vr"))
    rrfFuse(txt, vec, idCol, k, rrfK, textWeight, vecWeight)
  }

  /** [[hybridTopK]] served entirely from the persisted stores: text
    * ranks from [[rankedTopKIndexed]] (bit-identical to the scratch
    * ranking), vector ranks from the IVF index's probed cells
    * ([[graft.operators.Similarity.queryIvfIndex]] — approximate at
    * nProbe < nCentroids, exhaustive and therefore bit-identical to
    * [[hybridTopK]] at nProbe = nCentroids, which is how the spec
    * pins the composition). The 100 TB shape: neither corpus text nor
    * the full vector set is touched — ≤|terms| postings buckets and
    * ≤nProbe cells are read. */
  def hybridTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                        postingsPath: String, ivfPath: String,
                        centroidsFlat: Array[Double], queryVec: DataFrame,
                        idCol: String, vecCol: String, terms: Seq[String],
                        k: Int, dim: Int, poolK: Int = 20, nProbe: Int = 4,
                        rrfK: Int = 60,
                        textWeight: Double = 1.0, vecWeight: Double = 1.0,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val txt = rankedTopKIndexed(spark, postingsPath, idCol, terms, poolK, k1, b)
      .select(col(idCol), col("rank").as("__tr"))
    val vec = graft.operators.Similarity.queryIvfIndex(spark, ivfPath, centroidsFlat,
        oneRowQuery(queryVec).select(lit(0L).as("__qid"), col("__graft_qv").as("__qv")),
        idCol, vecCol, "__qid", "__qv", k = poolK, dim = dim, nProbe = nProbe)
      .select(col(idCol), col("rank").as("__vr"))
    rrfFuse(txt, vec, idCol, k, rrfK, textWeight, vecWeight)
  }

  /** Validate and normalize the single-query embedding argument: a
    * multi-row queryVec would silently cross-join every query row into
    * ONE fused ranking (meaningless) — it is collected/broadcast
    * anyway, so the count costs nothing at query scale. The embedding
    * column is renamed to an internal name so a caller column that
    * happens to share a corpus column's name can neither collide nor
    * bind to the wrong side. */
  private def oneRowQuery(queryVec: DataFrame): DataFrame = {
    val q = queryVec.select(col(queryVec.columns.head).as("__graft_qv"))
    val n = q.count()
    require(n == 1L,
      s"queryVec must hold exactly ONE query embedding row (got $n); " +
        "rank per-query batches with bruteForceTopK/queryIvfIndex instead")
    q
  }

  /** Exact cosine top-k of the corpus against ONE query embedding —
    * the single-query [[graft.operators.Similarity.bruteForceTopK]]
    * (bounded-heap ranking on (rounded score, id), NaN-safe for zero
    * vectors). `queryVec`: a 1-row DataFrame whose first column is
    * the embedding ([[oneRowQuery]] enforces the row count and
    * isolates the column name). The corpus side is projected to fixed
    * internal names BEFORE the cross join, so a corpus that already
    * carries a `__graft_qv`/`score` column — or a queryVec column
    * named like a corpus column — can neither throw an
    * ambiguous-reference nor silently bind the wrong side (the dedup
    * operators' aliasing discipline). */
  private def vectorTopK(corpus: DataFrame, idCol: String, vecCol: String,
                         queryVec: DataFrame, k: Int): DataFrame =
    corpus.select(col(idCol).as("__graft_id"), col(vecCol).as("__graft_v"))
      .crossJoin(broadcast(oneRowQuery(queryVec)))
      .select(col("__graft_id"),
        graft.functions.VectorFunctions
          .cosineRounded(col("__graft_v"), col("__graft_qv")).as("__graft_score"))
      .filter(!isnan(col("__graft_score")))
      .agg(TopKAggregate.topK(col("__graft_score"), col("__graft_id").cast("long"), k)
        .as("__top"))
      .select(posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("__e.id").as(idCol), (col("__r") + 1).cast("int").as("rank"))

  /** The RRF join: full outer on the doc id (a doc may surface in one
    * or both rankings), fixed source order (text term first, vector
    * second — the same expression tree on every engine), UNROUNDED
    * scores (a double weight divided by an exact positive integer is
    * one correctly-rounded operation — no rounding discipline needed
    * for ANY weight), single-group bounded-heap final rank. */
  private def rrfFuse(txt: DataFrame, vec: DataFrame, idCol: String,
                      k: Int, rrfK: Int,
                      textWeight: Double = 1.0, vecWeight: Double = 1.0): DataFrame = {
    require(rrfK > 0, s"rrfK must be a positive integer (got $rrfK)")
    require(textWeight > 0.0 && vecWeight > 0.0,
      s"source weights must be positive (got text=$textWeight, vec=$vecWeight)")
    txt.join(vec, Seq(idCol), "outer")
      .select(col(idCol),
        (coalesce(lit(textWeight) / (lit(rrfK) + col("__tr")), lit(0.0)) +
         coalesce(lit(vecWeight) / (lit(rrfK) + col("__vr")), lit(0.0))).as("score"))
      .agg(TopKAggregate.topK(col("score"), col(idCol).cast("long"), k).as("__top"))
      .select(posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("__e.id").as(idCol), col("__e.score").as("score"),
        (col("__r") + 1).cast("int").as("rank"))
  }

  /** Per-document TF-IDF keyphrase extraction: each doc's top-k terms
    * by tf · idf_fp, where idf_fp = (N·scale) div df is the integer
    * fixed-point inverse document rate (no log, no float — the
    * kmeans/classifier engine-exact recipe; rank order matches 1/df
    * idf). Terms in more than half the corpus are dropped (df·2 > N) —
    * the statistics-driven stopword cut, itself an exact integer
    * comparison. Tie-break: (score DESC, term ASC), deterministic.
    *
    * Scale shape: doc-term tf and term df are partial-agg'd
    * aggregations; N is a 1-row scalar broadcast (the q15/
    * sample_importance pattern); the scoring join is term-keyed
    * (shuffle carries (id, term, tf) — never text). The per-doc rank
    * IS a window, deliberately: its partition is one document's own
    * DISTINCT terms — bounded by doc length, not corpus size, so
    * there is no full-scored-set sort and no skew (the invariant
    * against windows targets unbounded groups; a doc is the bounded
    * group par excellence).
    * Output: (idCol, term, tf, df, score, rank ≤ k). */
  def keyphrases(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 5, scale: Long = 1024L, minTermLen: Int = 3): DataFrame = {
    require(k >= 1 && scale > 0)
    val tf = docs
      .select(col(idCol), explode(T.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) >= minTermLen)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__N"))
    val idf = dfreq.crossJoin(broadcast(n))
      .filter(col("df") * 2 <= col("__N"))
      .select(col("term"), col("df"), expr(s"(__N * ${scale}L) div df").as("__idf"))
    val scored = tf.join(idf, "term")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * col("__idf")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"),
        col("rank").cast("int").as("rank"))
  }
}
