package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming ingest dedup screen: documents arrive as a file stream and
  * each micro-batch is screened against the corpus's persisted band
  * signature index (Dedup.bandSigIndex) BEFORE admission — the streaming
  * face of `Dedup.incrementalDedup`, closing the loop on the
  * training-data pipeline: the corpus index is seeded once at corpus
  * build, then every admitted batch extends it, so a duplicate arriving
  * hours later still collides with the survivor that beat it.
  *
  * Shape: `foreachBatch` reuses the BATCH operator verbatim — the
  * micro-batch boundary IS the batch-screen boundary, so there is no
  * second dedup implementation to drift from the gated one. Per trigger:
  * screen (O(batch + bucket collisions), the index is never rescanned
  * for text), append survivors to the admitted output, append the
  * survivors' own band signatures to the index. Survivor-chain
  * semantics: later docs dedup against everything that SURVIVED, not
  * everything that arrived — a doc whose earlier duplicate was itself
  * rejected admits (its text is already represented by the chain's
  * survivor, which it also collides with).
  *
  * Delivery: the two appends are per-trigger jobs, not one transaction —
  * a crash between them can admit a survivor whose signatures were not
  * yet indexed (later dups of it would pass, duplicating content, until
  * re-screened offline). foreachBatch is at-least-once by contract;
  * production hardening routes both writes through Ingest's staged
  * commit protocol keyed on `batchId` (idempotent replay), exactly as
  * the batch mutation paths do.
  */
object StreamScreen {

  /** Start the screen over `feedDir` (parquet doc files; schema taken
    * from the files already present). `indexPath` must be seeded with
    * the corpus `bandSigIndex` (possibly empty but present). Survivors
    * append to `outPath`; the index grows in place. */
  def screenDocs(s: SparkSession, feedDir: String, indexPath: String,
                 outPath: String, checkpoint: String,
                 estThreshold: Double = 0.5, numHashes: Int = 8,
                 bands: Int = 4, shingleN: Int = 3,
                 maxFilesPerTrigger: Int = 1,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val schema = s.read.parquet(feedDir).schema
    LocalCheckpointFs.readStream(s).schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val b = batch.persist()
        try {
          val idx = ss.read.parquet(indexPath)
          val verdict = Dedup.incrementalDedup(idx, b, "doc_id", "text",
            estThreshold, numHashes, bands, shingleN)
          val survivors = b
            .join(verdict.filter(col("keep") === 1L).select("doc_id"), Seq("doc_id"))
            .persist()
          survivors.write.mode("append").parquet(outPath)
          Dedup.bandSigIndex(
              Dedup.minHashFromText(survivors.select(col("doc_id"), col("text")),
                "text", numHashes, shingleN),
              "doc_id", bands)
            .write.mode("append").parquet(indexPath)
          survivors.unpersist()
          ()
        } finally { b.unpersist(); () }
      }
      .trigger(trigger)
      .start()
  }
}
