package graft.wbot

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Structured-Streaming skin over the batch superstep engine (SURVEY.md
 * §2.10 / §7.8): a stream of seed URLs drives the same deterministic
 * frontier-expansion pipeline via `foreachBatch` — each micro-batch of seeds
 * runs a full crawl against the pages snapshot and writes the stream
 * (order) and seen rows to parquet sinks, one `batch_id=<id>` directory per
 * micro-batch. A batch replayed after a driver failure (its offsets logged,
 * its commit not) overwrites its own directories, so its rows land once.
 * No stateful streaming operators
 * are needed: all crawl state lives in the engine's tables, which is what
 * makes the crawl order reproducible (and the reference has no event-time
 * semantics to model — `crawler.go:195-291` is a pull loop).
 *
 * Use `Trigger.AvailableNow` for drain-and-stop semantics or a processing-
 * time trigger for a continuous service.
 */
object StreamingCrawl {

  /**
   * @param seedStream streaming DataFrame with a `value: String` column of
   *                   seed URLs (file source, Kafka value, MemoryStream…)
   * @param invalidSeedsAreFatal the reference aborts a Run on any invalid
   *                   seed (crawler.go:124-126); a long-running service can
   *                   choose to skip bad batches instead
   */
  def start(spark: SparkSession, seedStream: DataFrame, pagesPrep: DataFrame,
      cfg: Schemas.CrawlConfig, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      invalidSeedsAreFatal: Boolean = true): StreamingQuery = {
    seedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val seeds = batch.select("value").collect().map(_.getString(0)).toSeq
        if (seeds.nonEmpty) {
          try {
            val run = SparkCrawler.runPrepared(spark, pagesPrep, seeds, cfg)
            // the batch's caches go once its rows are written: a long-running
            // stream would otherwise hold every batch's seen deltas and
            // order-stream checkpoints for the life of the session
            try {
              run.order.write.mode("overwrite").parquet(s"$outDir/crawled/batch_id=$batchId")
              run.seen.write.mode("overwrite").parquet(s"$outDir/seen/batch_id=$batchId")
            } finally run.release()
          } catch {
            case e: IllegalArgumentException if !invalidSeedsAreFatal =>
              System.err.println(s"[streaming-crawl] batch $batchId skipped: ${e.getMessage}")
          }
        }
        ()
      }
      .start()
  }
}
