package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental ANN (IVF) indexing over a vector stream — the streaming
  * twin the batch similarity surface was missing: a daily-crawl pipeline
  * cannot rebuild a billion-vector index per arrival batch, so new
  * vectors are ROUTED to the existing inverted lists immediately
  * (queryable within one trigger) and the index periodically
  * RE-CENTROIDS to absorb drift (the MatviewMaintenance epoch-refresh
  * shape, via foreachBatch).
  *
  * Determinism/agreement contract: routing and centroid derivation are
  * the SAME kernels the batch index uses
  * ([[graft.operators.SimilarityQueries.ivfAssign]] — nlist lowest-id
  * centroids, decimal-exact full-L2, (fd, cid) tie-break), so
  *   - between epochs, an arrival routes EXACTLY as the batch kernel
  *     would against the epoch's centroid set;
  *   - every epoch refresh rebuilds the full assignment with the batch
  *     kernel at the corpus-derived nlist (ivfNlist of vectors seen so
  *     far) — after the final refresh the streamed index EQUALS the
  *     batch-built index on the same corpus, bit for bit (pinned in
  *     StreamingSpec).
  * Between epochs the index can lag the batch ideal in two bounded
  * ways — a newly-arrived low vec_id belongs in the centroid set but is
  * not yet, and nlist itself grows with √corpus — both healed by the
  * next refresh; that staleness-vs-rebuild-cost trade is exactly how
  * production ANN services run (FAISS add() vs train()).
  *
  * Scale shape: per trigger the incremental path routes ONLY the
  * arrival batch (batch × broadcast(≤4096 centroids), no shuffle of
  * stored vectors); the epoch refresh is the batch build — one
  * corpus-linear pass amortized over `recentroidEvery` triggers.
  */
object StreamingAnn {

  /** Routing of an arrival-batch vector frame against a static centroid
    * frame — the between-epoch serving path (called per micro-batch
    * inside foreachBatch, where the frame is a plain batch DataFrame)
    * and the StreamProbe throughput subject. Exactly the batch kernel's
    * plan: ivfFdist's broadcast distance expression + ivfLists'
    * map-side-combinable argmin, so an arrival routes bit-identically
    * to how the batch rebuild would route it against the same
    * centroids. `cents` columns: (cid, ce, cc). */
  def route(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val withVv = graft.operators.SimilarityQueries.ivfVv(vecs)
    graft.operators.SimilarityQueries.ivfLists(
      graft.operators.SimilarityQueries.ivfFdist(withVv, cents))
  }

  /** Epoch refresh: rebuild centroids + the FULL assignment from the
    * accumulated vector store with the batch kernel at the
    * corpus-derived width, replacing the index dir (matview-refresh
    * publish). Returns the nlist used. */
  def refreshEpoch(spark: org.apache.spark.sql.SparkSession,
      vecStore: String, indexDir: String): Int = {
    val all = graft.Tables.readParquet(spark, vecStore)
    val nlist = graft.operators.SimilarityQueries.ivfNlist(all.count().max(1L))
    graft.operators.SimilarityQueries.ivfAssign(all, nlist)
      .write.mode("overwrite").parquet(indexDir)
    Files.writeString(Paths.get(indexDir + "_nlist"), nlist.toString)
    nlist
  }

  /** Start the incremental indexer on a streaming (vec_id, embedding)
    * frame. Every trigger appends arrivals to `vecStore` and routes them
    * against the current epoch's centroids into `indexDir`; every
    * `recentroidEvery`-th batch (and batch 0, which seeds the index)
    * runs [[refreshEpoch]] instead.
    *
    * The epoch centroid frame is derived ONCE per refresh and pinned
    * (localCheckpoint) for every routing trigger of the epoch — never
    * re-read from the accumulated store per batch, which at production
    * volume would pay a footer scan of the whole store every trigger
    * and, worse, would silently ADMIT a just-arrived low vec_id into
    * the centroid set mid-epoch (the documented contract is that such
    * an arrival waits for the next refresh). After a restart the cache
    * is rebuilt lazily from `vecStore` + the persisted nlist stamp —
    * one store read, then pinned again. */
  def indexStream(vecs: DataFrame, vecStore: String, indexDir: String,
      recentroidEvery: Int = 4): StreamingQuery = {
    // per-query epoch cache; foreachBatch runs these triggers serially
    var epochCents: Option[DataFrame] = None
    def pinEpochCents(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val nlist = Files.readString(Paths.get(indexDir + "_nlist")).trim.toInt
      val c = graft.operators.SimilarityQueries
        .ivfCents(graft.operators.SimilarityQueries
          .ivfVv(graft.Tables.readParquet(spark, vecStore)), nlist)
        .localCheckpoint()
      epochCents = Some(c)
      c
    }
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_ann_ckpt").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        // one evaluation of the arrival batch for both the store append
        // and the routing (the r13 rule: never reference a foreachBatch
        // frame twice unpersisted)
        val pinned = batch.persist()
        try {
          pinned.write.mode("append").parquet(vecStore)
          if (id % recentroidEvery == 0) {
            refreshEpoch(spark, vecStore, indexDir)
            pinEpochCents(spark); ()
          } else {
            val cents = epochCents.getOrElse(pinEpochCents(spark))
            route(pinned, cents).write.mode("append").parquet(indexDir)
          }
        } finally { pinned.unpersist(); () }
      }
      .start()
  }
}
